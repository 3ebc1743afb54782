"""XLSX / PPTX parsing on stdlib zipfile + ElementTree.

openpyxl / python-pptx are not installed here, but both formats are
ZIP-packaged OOXML — the subset the reference actually reads (cell values,
shared strings, slide text runs) parses fine with the standard library.

Semantics modeled:
- XLSX (deepdoc/parser/excel_parser.py:59-79): per sheet, row 1 is the
  header; every later row renders as ``header：value; header：value; …``
  (full-width colon), empty cells skipped, and a `` ——{sheetname}`` suffix
  when the sheet name isn't "Sheet-ish". ``html()`` (:22-56) renders
  ``<table>`` chunks of ≤``chunk_rows`` rows with the header repeated.
- PPTX (deepdoc/parser/ppt_parser.py:31-62): slide shapes sorted by
  (top//10, left), text frames joined with newlines, one string per slide.
"""

from __future__ import annotations

import re
import zipfile
from io import BytesIO
from xml.etree import ElementTree as ET

_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_PPTX_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_PPTX_P = "{http://schemas.openxmlformats.org/presentationml/2006/main}"


# ------------------------------------------------------------------- xlsx


def _col_index(ref: str) -> int:
    """'BC12' → 0-based column index 54."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return n - 1


def _xlsx_rows(zf: zipfile.ZipFile, sheet_path: str,
               shared: list[str]) -> list[list[str | None]]:
    rows: list[list[str | None]] = []
    root = ET.fromstring(zf.read(sheet_path))
    for row in root.iter(f"{_XLSX_NS}row"):
        cells: list[str | None] = []
        for c in row.iter(f"{_XLSX_NS}c"):
            idx = _col_index(c.attrib.get("r", ""))
            while len(cells) < idx:
                cells.append(None)
            t = c.attrib.get("t")
            v = c.find(f"{_XLSX_NS}v")
            if t == "inlineStr":
                ist = c.find(f"{_XLSX_NS}is")
                val = "".join(
                    (e.text or "") for e in ist.iter(f"{_XLSX_NS}t")
                ) if ist is not None else None
            elif v is None:
                val = None
            elif t == "s":
                val = shared[int(v.text)] if v.text else None
            else:
                val = v.text
            cells.append(val)
        rows.append(cells)
    return rows


def _xlsx_sheets(blob: bytes) -> list[tuple[str, list[list[str | None]]]]:
    zf = zipfile.ZipFile(BytesIO(blob))
    shared: list[str] = []
    if "xl/sharedStrings.xml" in zf.namelist():
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
        for si in root.iter(f"{_XLSX_NS}si"):
            shared.append("".join((t.text or "") for t in si.iter(f"{_XLSX_NS}t")))
    # map sheet names → sheetN.xml via workbook order (rIds resolve in the
    # simple single-namespace layouts every common writer emits)
    names = []
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    for sh in wb.iter(f"{_XLSX_NS}sheet"):
        names.append(sh.attrib.get("name", "Sheet"))
    sheet_files = sorted(
        (n for n in zf.namelist()
         if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
        key=lambda p: int(re.search(r"(\d+)", p).group(1)),
    )
    out = []
    for i, path in enumerate(sheet_files):
        name = names[i] if i < len(names) else f"Sheet{i + 1}"
        out.append((name, _xlsx_rows(zf, path, shared)))
    return out


def parse_xlsx(blob: bytes) -> list[str]:
    """Mirror of RAGFlowExcelParser.__call__ (excel_parser.py:59-79)."""
    res: list[str] = []
    for sheetname, rows in _xlsx_sheets(blob):
        if not rows:
            continue
        headers = rows[0]
        for r in rows[1:]:
            fields = []
            for i, val in enumerate(r):
                if not val:
                    continue
                head = str(headers[i]) if i < len(headers) and headers[i] is not None else ""
                fields.append(head + ("：" if head else "") + str(val))
            line = "; ".join(fields)
            if sheetname.lower().find("sheet") < 0:
                line += " ——" + sheetname
            res.append(line)
    return res


def xlsx_to_html_chunks(blob: bytes, chunk_rows: int = 256) -> list[str]:
    """Mirror of RAGFlowExcelParser.html (excel_parser.py:22-56)."""
    chunks = []
    for sheetname, rows in _xlsx_sheets(blob):
        if not rows:
            continue
        head = "<tr>" + "".join(f"<th>{v}</th>" for v in rows[0]) + "</tr>"
        body_rows = rows[1:]
        for ci in range((len(body_rows) - 1) // chunk_rows + 1 if body_rows else 0):
            tb = f"<table><caption>{sheetname}</caption>" + head
            for r in body_rows[ci * chunk_rows:(ci + 1) * chunk_rows]:
                tb += "<tr>" + "".join(
                    f"<td>{'' if v is None else v}</td>" for v in r
                ) + "</tr>"
            tb += "</table>\n"
            chunks.append(tb)
    return chunks


# ------------------------------------------------------------------- pptx


def _pptx_off(el) -> tuple[int, int]:
    """(top, left) from the first a:off under el; 0,0 when absent (python-
    pptx returns None and the reference's sort key coerces top to 0)."""
    off = el.find(f".//{_PPTX_A}off")
    if off is None:
        return 0, 0
    return (int(off.attrib.get("y", 0)), int(off.attrib.get("x", 0)))


def _pptx_text(body) -> str:
    """python-pptx text_frame.text: paragraphs joined by newline, run
    texts concatenated — EMPTY paragraphs contribute empty lines."""
    paras = []
    for p in body.findall(f"{_PPTX_A}p"):
        paras.append("".join(t.text or "" for t in p.iter(f"{_PPTX_A}t")))
    return "\n".join(paras)


def _pptx_extract(el) -> str | None:
    """RAGFlowPptParser.__extract (ppt_parser.py:20-39): tables render as
    'header: value; …' per body row, groups recurse over their children in
    (top//10, left) order, text frames yield text_frame.text verbatim."""
    if el.tag == f"{_PPTX_P}graphicFrame":
        tbl = el.find(f".//{_PPTX_A}tbl")
        if tbl is None:
            return None
        trs = tbl.findall(f"{_PPTX_A}tr")
        ncols = len(tbl.findall(f"{_PPTX_A}tblGrid/{_PPTX_A}gridCol"))
        grid = [
            [_pptx_text(tc.find(f"{_PPTX_A}txBody"))
             if tc.find(f"{_PPTX_A}txBody") is not None else ""
             for tc in tr.findall(f"{_PPTX_A}tc")]
            for tr in trs
        ]
        # rows shorter than tblGrid declares are out-of-spec (python-pptx
        # would raise on cell(i, j)); treat missing cells as empty rather
        # than failing the whole document
        for row in grid:
            row.extend([""] * (ncols - len(row)))
        rows = []
        for i in range(1, len(grid)):
            rows.append("; ".join(
                f"{grid[0][j]}: {grid[i][j]}" for j in range(ncols)
            ))
        return "\n".join(rows)
    if el.tag == f"{_PPTX_P}grpSp":
        kids = [
            (c, _pptx_off(c)) for c in el
            if c.tag in (f"{_PPTX_P}sp", f"{_PPTX_P}graphicFrame",
                         f"{_PPTX_P}grpSp")
        ]
        kids.sort(key=lambda k: (k[1][0] // 10, k[1][1]))
        texts = []
        for c, _ in kids:
            t = _pptx_extract(c)
            if t:
                texts.append(t)
        return "\n".join(texts)
    if el.tag == f"{_PPTX_P}sp":
        body = el.find(f"{_PPTX_P}txBody")
        if body is None:
            return None
        return _pptx_text(body)
    return None


def parse_pptx(blob: bytes, from_page: int = 0, to_page: int = 100000
               ) -> list[str]:
    """Mirror of RAGFlowPptParser.__call__ (ppt_parser.py:41-62): one text
    string per slide; TOP-LEVEL shapes (slide.shapes walks the spTree
    children only — shapes inside a group sort within the group, not
    globally) in (top//10, left) order; tables and groups via
    :func:`_pptx_extract`."""
    zf = zipfile.ZipFile(BytesIO(blob))
    slide_files = sorted(
        (n for n in zf.namelist()
         if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
        key=lambda p: int(re.search(r"(\d+)", p).group(1)),
    )
    out: list[str] = []
    for i, path in enumerate(slide_files):
        if i < from_page:
            continue
        if i >= to_page:
            break
        root = ET.fromstring(zf.read(path))
        # top-level shapes only: a slide without cSld/spTree has no shape
        # tree (python-pptx slide.shapes is empty — iterating root.iter()
        # would extract group children twice, once via the group walk)
        tree = root.find(f"{_PPTX_P}cSld/{_PPTX_P}spTree")
        shapes = []
        for el in (tree if tree is not None else ()):
            if el.tag not in (f"{_PPTX_P}sp", f"{_PPTX_P}graphicFrame",
                              f"{_PPTX_P}grpSp"):
                continue
            top, left = _pptx_off(el)
            text = _pptx_extract(el)
            if text:
                shapes.append((top // 10, left, text))
        shapes.sort(key=lambda s: (s[0], s[1]))
        out.append("\n".join(s[2] for s in shapes))
    return out


# ------------------------------------------------------------------- docx

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"


def parse_docx(blob: bytes, keep_empty: bool = False
               ) -> tuple[list[tuple[str, str]], list[str]]:
    """DOCX scan (deepdoc/parser/docx_parser.py:113-136): paragraphs become
    ``(text, style_name)`` sections; tables render to ``header：value; …``
    row lines (the reference's __compose_table natural-language form).

    ``keep_empty=True`` keeps whitespace-only paragraphs — python-docx's
    ``doc.paragraphs`` includes them, and walks that accumulate answer
    text per paragraph (manual.py:112-121) append a bare newline for
    each, which the emitted chunks retain."""
    zf = zipfile.ZipFile(BytesIO(blob))
    root = ET.fromstring(zf.read("word/document.xml"))
    body = root.find(f"{_W}body")
    sections: list[tuple[str, str]] = []
    tables: list[str] = []
    if body is None:
        return sections, tables
    for el in body:
        if el.tag == f"{_W}p":
            text = "".join(t.text or "" for t in el.iter(f"{_W}t"))
            style = ""
            ps = el.find(f"{_W}pPr/{_W}pStyle")
            if ps is not None:
                style = ps.attrib.get(f"{_W}val", "")
            if keep_empty or text.strip():
                sections.append((text, style))
        elif el.tag == f"{_W}tbl":
            # same python-docx row.cells view as every reference table
            # consumer: merged cells expanded, cell text = direct
            # paragraphs newline-joined
            rows = _expand_docx_table(el)
            if len(rows) >= 2:
                header = rows[0]
                for r in rows[1:]:
                    fields = [
                        f"{h}：{v}" for h, v in zip(header, r) if v
                    ]
                    if fields:
                        tables.append("; ".join(fields))
            elif rows:
                tables.append("; ".join(v for v in rows[0] if v))
    return sections, tables


def docx_tables_html(blob: bytes) -> list[str]:
    """DOCX tables as HTML strings — the *naive* template's Docx contract
    (rag/app/naive.py:104-122): one ``<table>`` per table, consecutive
    equal-text cells collapse into a colspan. The reference's loop advances
    ``i`` to the LAST equal cell seen while counting every later equal cell
    (even non-adjacent); that quirk is kept verbatim."""
    zf = zipfile.ZipFile(BytesIO(blob))
    root = ET.fromstring(zf.read("word/document.xml"))
    body = root.find(f"{_W}body")
    out: list[str] = []
    if body is None:
        return out
    for el in body:
        if el.tag != f"{_W}tbl":
            continue
        html = "<table>"
        # merged cells expand to python-docx row.cells first — adjacent
        # expanded copies then collapse back into the colspan the
        # reference renders (naive.py:106: row.cells before the loop)
        for cells in _expand_docx_table(el):
            html += "<tr>"
            i = 0
            while i < len(cells):
                span = 1
                c = cells[i]
                for j in range(i + 1, len(cells)):
                    if c == cells[j]:
                        span += 1
                        i = j
                i += 1
                html += (
                    f"<td>{c}</td>" if span == 1
                    else f"<td colspan='{span}'>{c}</td>"
                )
            html += "</tr>"
        html += "</table>"
        out.append(html)
    return out


def parse_docx_caption_pairs(secs: list[tuple[str, str]]
                             ) -> list[tuple[str, str]]:
    """W7 (rag/app/naive.py:76-86): a 'Caption'-styled paragraph pairs with
    the element right before it. Without an image pipeline the pairing is
    textual — the caption line is appended onto the preceding section so
    chunking keeps them together (the reference attaches the preceding
    image to the caption line for the same do-not-separate effect)."""
    out: list[tuple[str, str]] = []
    for text, style in secs:
        if style == "Caption" and out:
            prev_text, prev_style = out[-1]
            out[-1] = (prev_text + "\n" + text, prev_style)
            continue
        out.append((text, style))
    return out


def docx_table_grids(blob: bytes) -> list[list[list[str]]]:
    """Raw cell grids of every body-level table (rows × cells of text),
    the input shape RAGFlowDocxParser.__extract_table_content consumes."""
    zf = zipfile.ZipFile(BytesIO(blob))
    root = ET.fromstring(zf.read("word/document.xml"))
    body = root.find(f"{_W}body")
    grids: list[list[list[str]]] = []
    if body is None:
        return grids
    for el in body.findall(f"{_W}tbl"):
        grids.append(_expand_docx_table(el))
    return grids


def _expand_docx_table(el) -> list[list[str]]:
    """python-docx's row.cells expands merged cells into every spanned
    grid position (gridSpan repeats horizontally, vMerge continue
    inherits the origin cell above) — the reference's table consumers
    (__extract_table_content, naive.py:104-122 html render) see that
    expanded grid, so both docx_table_grids and docx_tables_html must
    reproduce it."""
    rows: list[list[str]] = []
    for tr in el.findall(f"{_W}tr"):
        out: list[str] = []
        for tc in tr.findall(f"{_W}tc"):
            # python-docx _Cell.text: direct paragraphs joined by newline
            # (a nested table's text is NOT part of the outer cell's text)
            txt = "\n".join(
                "".join(t.text or "" for t in p.iter(f"{_W}t"))
                for p in tc.findall(f"{_W}p")
            )
            span, vmerge_cont = 1, False
            tc_pr = tc.find(f"{_W}tcPr")
            if tc_pr is not None:
                gs = tc_pr.find(f"{_W}gridSpan")
                if gs is not None:
                    try:
                        span = max(1, int(gs.get(f"{_W}val") or "1"))
                    except ValueError:
                        span = 1
                vm = tc_pr.find(f"{_W}vMerge")
                if vm is not None \
                        and (vm.get(f"{_W}val") or "continue") != "restart":
                    vmerge_cont = True
            for _ in range(span):
                col = len(out)
                if vmerge_cont and rows and col < len(rows[-1]):
                    out.append(rows[-1][col])
                else:
                    out.append(txt)
        rows.append(out)
    return rows


def compose_table_content(rows: list[list[str]]) -> list[str]:
    """RAGFlowDocxParser.__compose_table_content (docx_parser.py:30-111):
    cell-type vote over the body, numeric-majority header re-detection,
    stacked-header composition `header: cell` joined with ';' — one line
    per row for wide tables (>3 cols), else one joined block. Tokenizer
    calls route through ``default_tokenize`` (the documented huqie
    stand-in, shared with the A/B's rag_tokenizer stub)."""
    from collections import Counter

    from ragflow_spark.core.updown import default_tokenize

    patt = [
        (r"^(20|19)[0-9]{2}[年/-][0-9]{1,2}[月/-][0-9]{1,2}日*$", "Dt"),
        (r"^(20|19)[0-9]{2}年$", "Dt"),
        (r"^(20|19)[0-9]{2}[年/-][0-9]{1,2}月*$", "Dt"),
        (r"^[0-9]{1,2}[月/-][0-9]{1,2}日*$", "Dt"),
        (r"^第*[一二三四1-4]季度$", "Dt"),
        (r"^(20|19)[0-9]{2}年*[一二三四1-4]季度$", "Dt"),
        (r"^(20|19)[0-9]{2}[ABCDE]$", "DT"),
        (r"^[0-9.,+%/ -]+$", "Nu"),
        (r"^[0-9A-Z/\._~-]+$", "Ca"),
        (r"^[A-Z]*[a-z' -]+$", "En"),
        (r"^[0-9.,+-]+[0-9A-Za-z/$￥%<>（）()' -]+$", "NE"),
        (r"^.{1}$", "Sg"),
    ]

    def block_type(b: str) -> str:
        for p, n in patt:
            if re.search(p, b):
                return n
        tks = [t for t in default_tokenize(b) if len(t) > 1]
        if len(tks) > 3:
            return "Tx" if len(tks) < 12 else "Lx"
        return "Ot"

    if len(rows) < 2:
        return []
    width = max(len(r) for r in rows)
    grid = [[(r[j] if j < len(r) else "") for j in range(width)]
            for r in rows]
    votes = Counter(
        block_type(str(grid[i][j]))
        for i in range(1, len(grid)) for j in range(width)
    )
    max_type = max(votes.items(), key=lambda x: x[1])[0]

    colnm = width
    hdrows = [0]
    if max_type == "Nu":
        for r in range(1, len(grid)):
            tys = Counter(block_type(str(grid[r][j])) for j in range(width))
            if max(tys.items(), key=lambda x: x[1])[0] != max_type:
                hdrows.append(r)

    lines = []
    for i in range(1, len(grid)):
        if i in hdrows:
            continue
        hr = [r - i for r in hdrows if r - i < 0]
        t = len(hr) - 1
        while t > 0:
            if hr[t] - hr[t - 1] > 1:
                hr = hr[t:]
                break
            t -= 1
        headers = []
        for j in range(width):
            seen: list[str] = []
            for h in hr:
                x = str(grid[i + h][j]).strip()
                if x in seen:
                    continue
                seen.append(x)
            head = ",".join(seen)
            if head:
                head += ": "
            headers.append(head)
        cells = [
            headers[j] + str(grid[i][j])
            for j in range(width) if str(grid[i][j])
        ]
        lines.append(";".join(cells))

    if colnm > 3:
        return lines
    return ["\n".join(lines)]


# every member of the fixture writers gets this timestamp (the zip epoch):
# ``writestr`` with a bare name stamps the wall clock, and the writers'
# bytes must be a pure function of their input
_ZIP_DATE_TIME = (1980, 1, 1, 0, 0, 0)


def _writestr(zf: zipfile.ZipFile, name: str, data: str) -> None:
    info = zipfile.ZipInfo(name, _ZIP_DATE_TIME)
    # what writestr gives a bare name; a bare ZipInfo would be ZIP_STORED
    info.compress_type = zf.compression
    info.external_attr = 0o600 << 16
    zf.writestr(info, data)


def build_simple_docx(paragraphs: list[tuple[str, str]],
                      tables: list[list[list[str]]] | None = None) -> bytes:
    """Deterministic minimal DOCX writer: (text, style) paragraphs + tables."""
    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    parts = []
    for text, style in paragraphs:
        stag = f'<w:pPr><w:pStyle w:val="{style}"/></w:pPr>' if style else ""
        parts.append(f"<w:p>{stag}<w:r><w:t>{text}</w:t></w:r></w:p>")
    def _tc(c) -> str:
        # cell spec: plain str, or dict {text | paras, grid_span, v_merge}
        # where v_merge is "restart" | "continue" — emits real tcPr markup
        # so merged-cell fixtures exercise the gridSpan/vMerge expansion;
        # "paras" emits one w:p per entry (cell.text newline-joins them)
        if not isinstance(c, dict):
            return f"<w:tc><w:p><w:r><w:t>{c}</w:t></w:r></w:p></w:tc>"
        pr = ""
        if c.get("grid_span", 1) > 1:
            pr += f'<w:gridSpan w:val="{int(c["grid_span"])}"/>'
        if c.get("v_merge"):
            pr += f'<w:vMerge w:val="{c["v_merge"]}"/>'
        pr = f"<w:tcPr>{pr}</w:tcPr>" if pr else ""
        paras = c.get("paras", [c.get("text", "")])
        body = "".join(f"<w:p><w:r><w:t>{t}</w:t></w:r></w:p>"
                       for t in paras)
        return f"<w:tc>{pr}{body}</w:tc>"

    for tbl in tables or []:
        rows = "".join(
            "<w:tr>" + "".join(_tc(c) for c in row) + "</w:tr>"
            for row in tbl
        )
        parts.append(f"<w:tbl>{rows}</w:tbl>")
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        _writestr(
            zf, "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        )
        _writestr(
            zf, "word/document.xml",
            f'<?xml version="1.0"?><w:document xmlns:w="{w}"><w:body>'
            + "".join(parts) + "</w:body></w:document>",
        )
    return buf.getvalue()


# ----------------------------------------------------- fixture builders

def build_simple_xlsx(sheets: dict[str, list[list]]) -> bytes:
    """Deterministic minimal XLSX writer (inline strings) for fixtures."""
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        _writestr(
            zf, "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            "</Types>",
        )
        sheet_tags = "".join(
            f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, name in enumerate(sheets)
        )
        _writestr(
            zf, "xl/workbook.xml",
            '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            f"<sheets>{sheet_tags}</sheets></workbook>",
        )
        for si, (name, rows) in enumerate(sheets.items(), start=1):
            xml_rows = []
            for ri, row in enumerate(rows, start=1):
                cells = []
                for ci, val in enumerate(row):
                    if val is None:
                        continue
                    col = chr(65 + ci) if ci < 26 else "A" + chr(65 + ci - 26)
                    if isinstance(val, (int, float)):
                        cells.append(f'<c r="{col}{ri}"><v>{val}</v></c>')
                    else:
                        cells.append(
                            f'<c r="{col}{ri}" t="inlineStr"><is><t>{val}</t></is></c>'
                        )
                xml_rows.append(f'<row r="{ri}">' + "".join(cells) + "</row>")
            _writestr(
                zf, f"xl/worksheets/sheet{si}.xml",
                '<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                f"<sheetData>{''.join(xml_rows)}</sheetData></worksheet>",
            )
    return buf.getvalue()


def build_simple_pptx(slides: list[list]) -> bytes:
    """Deterministic minimal PPTX writer. Each slide is a list of shape
    specs: a plain ``str`` (text shape at stacked offsets), or a dict —
    ``{"text": str|list[str], "top": int, "left": int}`` (list = one
    paragraph per entry, empty strings allowed), ``{"table": grid, ...}``
    (row 0 = header), or ``{"group": [specs], ...}``."""
    buf = BytesIO()
    a = "http://schemas.openxmlformats.org/drawingml/2006/main"
    p = "http://schemas.openxmlformats.org/presentationml/2006/main"

    def _body(text, ns: str = "p") -> str:
        # shape text bodies are p:txBody; DrawingML table cells use a:txBody
        paras = text if isinstance(text, list) else [text]
        return f"<{ns}:txBody>" + "".join(
            f"<a:p><a:r><a:t>{t}</a:t></a:r></a:p>" if t else "<a:p/>"
            for t in paras
        ) + f"</{ns}:txBody>"

    def _shape(spec, j) -> str:
        if not isinstance(spec, dict):
            spec = {"text": spec}
        top = spec.get("top", j * 1000)
        left = spec.get("left", j * 100)
        xfrm = f'<a:xfrm><a:off x="{left}" y="{top}"/></a:xfrm>'
        if "table" in spec:
            grid = spec["table"]
            ncols = max(len(r) for r in grid) if grid else 0
            cols = "".join('<a:gridCol w="914400"/>' for _ in range(ncols))
            trs = "".join(
                '<a:tr h="370840">' + "".join(
                    f"<a:tc>{_body(c, 'a')}</a:tc>" for c in row
                ) + "</a:tr>"
                for row in grid
            )
            return (f'<p:graphicFrame><p:xfrm><a:off x="{left}" y="{top}"/>'
                    "</p:xfrm><a:graphic><a:graphicData>"
                    f"<a:tbl><a:tblGrid>{cols}</a:tblGrid>{trs}</a:tbl>"
                    "</a:graphicData></a:graphic></p:graphicFrame>")
        if "group" in spec:
            kids = "".join(_shape(s, k) for k, s in enumerate(spec["group"]))
            return (f"<p:grpSp><p:grpSpPr>{xfrm}</p:grpSpPr>{kids}"
                    "</p:grpSp>")
        return f"<p:sp><p:spPr>{xfrm}</p:spPr>{_body(spec['text'])}</p:sp>"

    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        _writestr(
            zf, "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        )
        for i, specs in enumerate(slides, start=1):
            shapes = "".join(_shape(s, j) for j, s in enumerate(specs))
            _writestr(
                zf, f"ppt/slides/slide{i}.xml",
                f'<?xml version="1.0"?><p:sld xmlns:p="{p}" xmlns:a="{a}">'
                f"<p:cSld><p:spTree>{shapes}</p:spTree></p:cSld></p:sld>",
            )
    return buf.getvalue()
