"""Seeded FUZZ A/B: adversarial generated documents through the
reference's own chunk() (refstubs-stubbed assets, shared vision/booster
stand-ins) versus our run_template, byte-identical. The curated A/B
suites pin known behaviors; this file sweeps the mixture space —
bullet-family collisions, garbage/TOC/chrome lines, numeric-only and
empty lines, giant tokens, backticks (the txt-split quirk), '@' (book's
section split char), mixed scripts — with deterministic seeds so a
failure replays exactly.

The reference's random_choices sampling (with replacement,
rag/nlp/__init__.py:185-187) is routed to the deterministic full-list
vote on BOTH sides, same control as the window-straddle suite: fuzz
mixtures are exactly where a sampled vote flips by seed luck.
"""

from __future__ import annotations

import json as _json
import logging
import random
import re
import sys

import pytest

sys.path.insert(0, "tests")
import refstubs  # noqa: E402

from ragflow_spark.core import pdf_mini  # noqa: E402
from ragflow_spark.core.templates import run_template  # noqa: E402

pytestmark = refstubs.requires_reference


def _noop(*a, **k):
    pass


def _remove_tag(t):
    return re.sub(r"@@[\t0-9.-]+?##", "", t)


@pytest.fixture(scope="module")
def ref_apps():
    refstubs.install_reference_stubs()
    import rag.app.book as book
    import rag.app.laws as laws
    import rag.app.manual as manual
    import rag.app.naive as naive
    import rag.app.one as one
    import rag.app.paper as paper
    import rag.app.presentation as presentation
    import rag.app.qa as qa
    import rag.nlp as ragnlp

    laws.logging = logging

    def _full_list(arr, k):
        return arr

    ragnlp.random_choices = _full_list
    mods = {
        "naive": naive, "book": book, "paper": paper, "manual": manual,
        "laws": laws, "presentation": presentation, "qa": qa, "one": one,
    }
    for m in mods.values():
        if hasattr(m, "random_choices"):
            m.random_choices = _full_list
    return mods


# --------------------------------------------------------- generators

_VOCAB = ("data spark query engine shuffle partition filter merge chunk "
          "token document extract scan index vector stream batch").split()


def _sentence(rng):
    k = rng.randint(4, 14)
    return (" ".join(rng.choice(_VOCAB) for _ in range(k)).capitalize()
            + rng.choice([".", "!", "?", ":", ""]))


def _fuzz_line(rng, i):
    forms = [
        lambda: f"Chapter {rng.randint(1, 20)}",
        lambda: f"Section {rng.randint(1, 30)}.{rng.randint(1, 9)}",
        lambda: f"{rng.randint(1, 30)}.{rng.randint(1, 9)} Topic {i}",
        lambda: f"({rng.randint(1, 9)}) item {i}",
        lambda: f"Article {rng.randint(1, 50)}. Rule text {i}.",
        lambda: f"PART {rng.choice(['ONE', 'TWO', 'THREE'])}",
        lambda: f"{rng.randint(1, 12)}. " + _sentence(rng),
        lambda: _sentence(rng),
        lambda: _sentence(rng) + " " + _sentence(rng),
        lambda: str(rng.randint(0, 99999)),            # F8 numeric-only
        lambda: "." * rng.randint(5, 40),              # dotted TOC leader
        lambda: f"Contents {'.' * rng.randint(8, 30)} {rng.randint(1, 99)}",
        lambda: "",
        lambda: "   ",
        lambda: "Key point: " + _sentence(rng),        # colon-as-title
        lambda: "verylongtoken" * rng.randint(8, 30),  # giant token
        lambda: "- " + _sentence(rng),
        lambda: _sentence(rng) + " @ " + _sentence(rng),  # book '@' split
    ]
    return rng.choice(forms)()


def _fuzz_pdf(seed):
    """≤8-page (single task window) ASCII PDF of adversarial line mix,
    optionally with repeated page chrome (A6 target)."""
    rng = random.Random(seed)
    npages = rng.randint(2, 8)
    chrome = rng.random() < 0.5
    pages = []
    for pn in range(npages):
        lines = [_fuzz_line(rng, i) for i in range(rng.randint(3, 18))]
        if chrome:
            lines.insert(0, "ACME CONFIDENTIAL DRAFT")
            lines.append(f"Page {pn + 1} of {npages}")
        pages.append(lines)
    return pdf_mini.build_simple_pdf(pages)


def _fuzz_qa_pdf(seed):
    """qa needs a recognizable Q-bullet structure; fuzz the noise AROUND
    the questions, not the structure itself."""
    rng = random.Random(seed)
    lines = []
    for q in range(1, rng.randint(4, 9)):
        if rng.random() < 0.4:
            lines.append(_fuzz_line(rng, q))
        lines.append(f"QUESTION {q}")
        lines.append(f"What is the meaning of term {q} here?")
        for i in range(rng.randint(1, 3)):
            lines.append(f"The answer explains term {q} part {i} with "
                         "more detail words here.")
    per = rng.randint(10, 18)
    pages = [lines[i:i + per] for i in range(0, len(lines), per)]
    return pdf_mini.build_simple_pdf(pages)


def _fuzz_text(seed, n=50):
    """Unicode adversarial lines for the txt/md paths (backticks, CJK,
    tabs, delimiter chars)."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        form = rng.randint(0, 11)
        if form == 0:
            out.append(f"第{'一二三四五六七八九十'[i % 10]}章 标题{i}")
        elif form == 1:
            out.append(f"中文句子{i}，带标点。还有一句！")
        elif form == 2:
            out.append("code `inline backtick` sample")   # txt ` quirk
        elif form == 3:
            out.append("```")
        elif form == 4:
            out.append(f"col{i}\tcol{i + 1}\tcol{i + 2}")
        elif form == 5:
            out.append("")
        else:
            out.append(_fuzz_line(rng, i))
    return "\n".join(out)


# ------------------------------------------------------------- pdf A/B

def _pdf_ab(mod, parser, blob, seed):
    inst = refstubs.template_pdf_instance(mod.Pdf, blob, "English")
    orig = mod.Pdf
    try:
        mod.Pdf = lambda: inst
        random.seed(seed)
        docs = mod.chunk(f"fz{seed}.pdf", binary=blob, lang="English",
                         callback=_noop)
    finally:
        mod.Pdf = orig
    ref_chunks = [_remove_tag(c["content_with_weight"]) for c in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template(parser, blob, "pdf",
                                               "English")]
    assert ref_chunks == ours, (parser, seed, len(ref_chunks), len(ours))


@pytest.mark.parametrize("parser", ["naive", "book", "paper", "manual",
                                    "one", "presentation", "laws"])
@pytest.mark.parametrize("seed", range(6))
def test_fuzz_pdf_template_ab(ref_apps, parser, seed):
    _pdf_ab(ref_apps[parser], parser, _fuzz_pdf(seed * 7 + 1), seed)


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_qa_pdf_ab(ref_apps, seed):
    _pdf_ab(ref_apps["qa"], "qa", _fuzz_qa_pdf(seed * 11 + 3), seed)


# ----------------------------------------------------- txt/md/json A/B

@pytest.mark.parametrize("seed", range(8))
def test_fuzz_naive_txt_ab(ref_apps, seed):
    payload = _fuzz_text(seed).encode()
    cfg = {"chunk_token_num": 64, "delimiter": "\n!?。；！？"}
    random.seed(seed)
    docs = ref_apps["naive"].chunk("f.txt", binary=payload, lang="English",
                                   callback=_noop, parser_config=dict(cfg))
    ref_chunks = [d["content_with_weight"] for d in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template("naive", payload, "txt",
                                               "English", cfg=cfg)]
    assert ref_chunks == ours, seed


def _fuzz_markdown(seed):
    rng = random.Random(seed)
    out = []
    for i in range(rng.randint(15, 40)):
        form = rng.randint(0, 9)
        if form == 0:
            out.append("#" * rng.randint(1, 4) + f" Heading {i}")
        elif form == 1:
            out.append(f"| a{i} | b{i} |\n|---|---|\n| {i} | {i * 2} |")
        elif form == 2:
            out.append(f"```\ncode block {i}\nline two\n```")
        elif form == 3:
            out.append(f"- list item {i}\n- second {i}")
        elif form == 4:
            out.append("")
        elif form == 5:
            # adversarial tables: ragged rows, alignment colons, escaped
            # pipes, headerless, no body — all probed MATCH vs reference
            out.append(rng.choice([
                f"| a{i} | b | c |\n|---|---|---|\n| 1 | 2 |\n"
                f"| 1 | 2 | 3 | 4 |",
                f"| a{i} | b |\n|:---|---:|\n| l | r |\n| x | y |",
                f"| a{i} | b |\n|---|---|",
                f"| a{i} | b |\n|---|---|\n| x\\|y | z |",
                f"| {i} | {i + 1} |\n| {i + 2} | {i + 3} |",
                f"|  a{i}  |b|\n| --- |---|\n|1 | 2|",
            ]))
        else:
            out.append(_sentence(rng) + " 中文内容" + str(i) + "。")
    return "\n\n".join(out)


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_naive_markdown_ab(ref_apps, seed):
    payload = _fuzz_markdown(seed).encode()
    cfg = {"chunk_token_num": 96}
    random.seed(seed)
    docs = ref_apps["naive"].chunk("f.md", binary=payload, lang="English",
                                   callback=_noop, parser_config=dict(cfg))
    ref_chunks = [d["content_with_weight"] for d in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template("naive", payload, "md",
                                               "English", cfg=cfg)]
    assert ref_chunks == ours, seed


def _fuzz_json(seed):
    rng = random.Random(seed)

    def val(depth):
        if depth > 2:
            return rng.choice(["leaf", 42, True, None])
        form = rng.randint(0, 5)
        if form == 0:
            return {f"k{i}": val(depth + 1) for i in range(rng.randint(0, 4))}
        if form == 1:
            return [val(depth + 1) for _ in range(rng.randint(0, 5))]
        if form == 2:
            return " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(1, 60)))
        if form == 3:
            return "中文值" + str(rng.randint(0, 99)) + "。"
        if form == 4:
            return rng.random() * 1000
        return ""

    return _json.dumps(
        {f"top{i}": val(0) for i in range(rng.randint(1, 6))},
        ensure_ascii=False).encode()


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_naive_json_ab(ref_apps, seed):
    payload = _fuzz_json(seed)
    cfg = {"chunk_token_num": 64}
    random.seed(seed)
    docs = ref_apps["naive"].chunk("f.json", binary=payload,
                                   lang="English", callback=_noop,
                                   parser_config=dict(cfg))
    ref_chunks = [d["content_with_weight"] for d in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template("naive", payload, "json",
                                               "English", cfg=cfg)]
    assert ref_chunks == ours, seed


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_laws_txt_ab(ref_apps, seed):
    rng = random.Random(seed)
    lines = []
    for i in range(1, rng.randint(6, 15)):
        lines.append(f"第{'一二三四五六七八九十'[i % 10]}条 "
                     f"规则{i}的具体内容如下。")
        if rng.random() < 0.5:
            lines.append(_fuzz_line(rng, i))
    payload = "\n".join(lines).encode()
    random.seed(seed)
    docs = ref_apps["laws"].chunk("f.txt", binary=payload, lang="Chinese",
                                  callback=_noop)
    ref_chunks = [d["content_with_weight"] for d in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template("laws", payload, "txt",
                                               "Chinese")]
    assert ref_chunks == ours, seed


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_qa_csv_ab(ref_apps, seed):
    rng = random.Random(seed)
    lines = []
    for i in range(rng.randint(3, 12)):
        form = rng.randint(0, 4)
        if form == 0:
            lines.append(f"What is {i}?\tIt is number {i}.")
        elif form == 1:
            lines.append(f"noise line {i} without a tab")
        elif form == 2:
            lines.append(f"问题{i}？\t答案{i}。")
        elif form == 3:
            lines.append("")
        else:
            lines.append(f"Q{i}\tA{i}\textra\tfields")
    payload = "\n".join(lines).encode()
    random.seed(seed)
    docs = ref_apps["qa"].chunk("f.csv", binary=payload, lang="English",
                                callback=_noop)
    ref_chunks = [d["content_with_weight"] for d in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template("qa", payload, "csv",
                                               "English")]
    assert ref_chunks == ours, seed


# ----------------------------------- positioned fuzz: columns + tables

def _fuzz_two_col_pdf(seed):
    """Two text columns per page (x=72 and x=320) — exercises column
    detection + X-first reorder (paper) and the plain reading-order walk
    (naive/manual) on narrow boxes."""
    rng = random.Random(seed)
    pages = []
    for pn in range(rng.randint(2, 5)):
        items = []
        for col_x in (72, 320):
            y = 770
            for i in range(rng.randint(6, 16)):
                k = rng.randint(2, 6)
                txt = (" ".join(rng.choice(_VOCAB) for _ in range(k))
                       .capitalize() + rng.choice([".", "!", "", ","]))
                items.append((col_x, y, txt))
                y -= 13
        pages.append(items)
    return pdf_mini.build_positioned_pdf(pages)


def _fuzz_table_pdf(seed):
    """Text pages with 1-2 random 3-4 column grids (captioned or not) at
    random heights — exercises region detection, span inference, caption
    pairing and the table-chunk tier."""
    rng = random.Random(seed)
    x_cols = (72, 200, 330, 460)
    pages = []
    for pn in range(rng.randint(2, 5)):
        items = []
        y = 770
        for i in range(rng.randint(4, 10)):
            items.append((72, y, _sentence(rng)))
            y -= 13
        for _ in range(rng.randint(0, 2)):
            ncols = rng.randint(3, 4)
            nrows = rng.randint(3, 6)
            y -= 26
            if rng.random() < 0.6:
                items.append((72, y, f"Table {rng.randint(1, 9)}: "
                              f"{rng.choice(_VOCAB)} metrics"))
                y -= 18
            head = [rng.choice(_VOCAB) for _ in range(ncols)]
            rows = [[str(rng.randint(0, 9999)) for _ in range(ncols)]
                    for _ in range(nrows - 1)]
            for rn, row in enumerate([head] + rows):
                for cn, cell in enumerate(row):
                    items.append((x_cols[cn], y - 15 * rn, cell))
            y -= 15 * nrows + 13
        pages.append(items)
    return pdf_mini.build_positioned_pdf(pages)


@pytest.mark.parametrize("parser", ["naive", "paper", "manual", "book"])
@pytest.mark.parametrize("seed", range(4))
def test_fuzz_two_col_pdf_ab(ref_apps, parser, seed):
    _pdf_ab(ref_apps[parser], parser, _fuzz_two_col_pdf(seed * 13 + 2),
            seed)


@pytest.mark.parametrize("parser", ["naive", "book", "manual", "one"])
@pytest.mark.parametrize("seed", range(4))
def test_fuzz_table_pdf_ab(ref_apps, parser, seed):
    _pdf_ab(ref_apps[parser], parser, _fuzz_table_pdf(seed * 17 + 5),
            seed)


# --------------------------------------------- docx fuzz (merged cells)

def _fuzz_docx(seed):
    """Heading/body mixture plus tables with REAL merged cells (gridSpan
    header banners, vMerge first columns) — the python-docx row.cells
    expansion (office.docx_table_grids and the refoffice facade must
    agree cell-for-cell)."""
    from ragflow_spark.core.office import build_simple_docx

    rng = random.Random(seed)
    paras = []
    for ch in range(1, rng.randint(2, 5)):
        paras.append((f"Chapter {['I', 'II', 'III', 'IV'][ch - 1]}",
                      "Heading 1"))
        for _ in range(rng.randint(1, 4)):
            paras.append((_fuzz_line(rng, ch), ""))
            if rng.random() < 0.3:
                # empty / whitespace-only paragraphs: python-docx walks
                # them (manual's answer accumulator appends a bare \n per
                # empty paragraph; naive/book-style parsers skip them)
                paras.append((rng.choice(["", " ", "　"]), ""))
        if rng.random() < 0.5:
            paras.append((f"第{ch}节 中文标题", "Heading 2"))
            paras.append((f"中文正文内容{ch}。", ""))
    tables = []
    for _ in range(rng.randint(0, 2)):
        ncols = rng.randint(2, 4)
        tbl = []
        if rng.random() < 0.6:
            # banner header spanning all columns
            tbl.append([{"text": f"Summary {seed}", "grid_span": ncols}])
        tbl.append([rng.choice(_VOCAB) for _ in range(ncols)])
        nrows = rng.randint(2, 5)
        for rn in range(nrows):
            row = []
            for cn in range(ncols):
                if cn == 0 and rn > 0 and rng.random() < 0.4:
                    row.append({"text": "", "v_merge": "continue"})
                elif cn == 0 and rng.random() < 0.3:
                    row.append({"text": f"grp{rn}", "v_merge": "restart"})
                elif rng.random() < 0.2:
                    # multi-paragraph cell: cell.text newline-joins the
                    # direct paragraphs (python-docx _Cell.text semantics)
                    row.append({"paras": [f"line{rn}a", "",
                                          f"line{rn}b"][:rng.randint(2, 3)]})
                else:
                    row.append(str(rng.randint(0, 999)))
            tbl.append(row)
        tables.append(tbl)
    return build_simple_docx(paras, tables)


@pytest.mark.parametrize("parser", ["book", "one", "naive", "laws",
                                    "manual"])
@pytest.mark.parametrize("seed", range(4))
def test_fuzz_docx_ab(ref_apps, parser, seed):
    blob = _fuzz_docx(seed * 19 + 4)
    mod = ref_apps[parser]
    random.seed(seed)
    docs = mod.chunk("f.docx", binary=blob, lang="English", callback=_noop)
    ref_chunks = [_remove_tag(c["content_with_weight"]) for c in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template(parser, blob, "docx",
                                               "English")]
    assert ref_chunks == ours, (parser, seed)


# --------------------------------------------------------- qa docx fuzz

def _fuzz_qa_docx(seed):
    """Nested Heading question stacks with empty-paragraph noise and
    tables (the qa docx path emits table chunks first, then the joined
    question-path/answer pairs — qa.py:189-248)."""
    from ragflow_spark.core.office import build_simple_docx

    rng = random.Random(seed)
    paras = []
    if rng.random() < 0.4:
        paras.append((_fuzz_line(rng, 0), ""))  # preamble before any question
    for q in range(rng.randint(2, 5)):
        paras.append((f"What is topic {q}?", "Heading 1"))
        for _ in range(rng.randint(0, 3)):
            paras.append((_fuzz_line(rng, q), ""))
            if rng.random() < 0.3:
                paras.append(("", ""))
        if rng.random() < 0.5:
            paras.append((f"Sub-question {q}a?", "Heading 2"))
            paras.append((f"Sub answer {q}a with more words.", ""))
            if rng.random() < 0.4:
                paras.append((f"Deeper {q}b?", "Heading 3"))
                paras.append((f"Deep answer {q}b.", ""))
    tables = []
    if rng.random() < 0.5:
        tables.append([["k", "v"],
                       [str(rng.randint(0, 99)), rng.choice(_VOCAB)]])
    return build_simple_docx(paras, tables)


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_qa_docx_ab(ref_apps, seed):
    blob = _fuzz_qa_docx(seed * 23 + 7)
    random.seed(seed)
    docs = ref_apps["qa"].chunk("q.docx", binary=blob, lang="English",
                                callback=_noop)
    ref_chunks = [_remove_tag(c["content_with_weight"]) for c in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template("qa", blob, "docx",
                                               "English")]
    assert ref_chunks == ours, seed


# ------------------------------------------------------------ xlsx fuzz

def _fuzz_xlsx(seed):
    """Multi-sheet workbooks with ragged rows, skipped (None) cells,
    numeric/int/float mixtures, empty strings and CJK — the cell walks
    and per-sheet html renders must agree with the reference's openpyxl
    view (refoffice facade) cell-for-cell."""
    from ragflow_spark.core.office import build_simple_xlsx

    rng = random.Random(seed)
    sheets = {}
    for si in range(rng.randint(1, 3)):
        ncols = rng.randint(2, 5)
        rows = [[f"col{c}" for c in range(ncols)]]
        for ri in range(rng.randint(1, 20)):
            row = []
            for c in range(ncols):
                form = rng.randint(0, 6)
                if form == 0:
                    row.append(None)          # skipped cell → ragged row
                elif form == 1:
                    row.append(rng.randint(-5, 500))
                elif form == 2:
                    row.append(round(rng.uniform(0, 99), 2))
                elif form == 3:
                    row.append("")
                elif form == 4:
                    row.append(f"中文{ri}-{c}")
                else:
                    row.append(rng.choice(_VOCAB))
            # occasionally truncate the row short of the header width
            row = row[:rng.randint(1, ncols)]
            rows.append(row)
        sheets[f"sheet{si}" if si else "data"] = rows
    return build_simple_xlsx(sheets)


@pytest.mark.parametrize("parser", ["naive", "one"])
@pytest.mark.parametrize("seed", range(5))
def test_fuzz_xlsx_ab(ref_apps, parser, seed):
    blob = _fuzz_xlsx(seed * 29 + 11)
    mod = ref_apps[parser]
    random.seed(seed)
    docs = mod.chunk("f.xlsx", binary=blob, lang="English", callback=_noop)
    ref_chunks = [_remove_tag(c["content_with_weight"]) for c in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template(parser, blob, "xlsx",
                                               "English")]
    assert ref_chunks == ours, (parser, seed)


def _fuzz_qa_xlsx(seed):
    """qa xlsx: column 0 = question, column 1 = answer, adversarial blanks
    and numeric questions sprinkled in (qa.py:30-70 Excel.__call__ skips
    rows missing either side)."""
    from ragflow_spark.core.office import build_simple_xlsx

    rng = random.Random(seed)
    rows = []
    for i in range(rng.randint(3, 15)):
        form = rng.randint(0, 5)
        if form == 0:
            rows.append([f"Question {i}?"])          # no answer → skipped
        elif form == 1:
            rows.append(["", f"orphan answer {i}"])  # no question → skipped
        elif form == 2:
            rows.append([rng.randint(0, 99), f"numeric question answer {i}"])
        else:
            rows.append([f"Q{i} {rng.choice(_VOCAB)}?",
                         f"A{i} {_sentence(rng)}"])
    return build_simple_xlsx({"qa": rows})


@pytest.mark.parametrize("seed", range(5))
def test_fuzz_qa_xlsx_ab(ref_apps, seed):
    blob = _fuzz_qa_xlsx(seed * 31 + 13)
    random.seed(seed)
    docs = ref_apps["qa"].chunk("q.xlsx", binary=blob, lang="English",
                                callback=_noop)
    ref_chunks = [_remove_tag(c["content_with_weight"]) for c in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template("qa", blob, "xlsx",
                                               "English")]
    assert ref_chunks == ours, seed


# ------------------------------------------------------------ email fuzz

def _fuzz_eml(seed):
    """Well-formed MIME mixtures: plain, alternative (text+html), mixed
    with txt/docx attachments, CJK payloads with explicit charsets. The
    reference email path (email.py:25-105) feeds headers + text/plain
    through the txt parser, text/html through the (shared-stand-in) HTML
    parser, then naive-merges; attachments recurse into naive."""
    from email.mime.application import MIMEApplication
    from email.mime.multipart import MIMEMultipart
    from email.mime.text import MIMEText

    from ragflow_spark.core.office import build_simple_docx

    rng = random.Random(seed)
    body_lines = [_sentence(rng) for _ in range(rng.randint(2, 8))]
    if rng.random() < 0.5:
        body_lines.append(f"中文段落{seed}，带标点。")
    plain = MIMEText("\n".join(body_lines), "plain", "utf-8")
    form = rng.randint(0, 2)
    if form == 0:
        msg = plain
    else:
        html = MIMEText(
            "<html><body><article>"
            + "".join(f"<p>{_sentence(rng)} paragraph body {i}</p>"
                      for i in range(rng.randint(2, 6)))
            + "</article></body></html>", "html", "utf-8")
        alt = MIMEMultipart("alternative")
        alt.attach(plain)
        alt.attach(html)
        if form == 1:
            msg = alt
        else:
            msg = MIMEMultipart("mixed")
            msg.attach(alt)
            att_form = rng.randint(0, 1)
            if att_form == 0:
                att = MIMEText("\n".join(
                    _sentence(rng) for _ in range(rng.randint(2, 6))),
                    "plain", "utf-8")
                att.add_header("Content-Disposition", "attachment",
                               filename=f"notes{seed}.txt")
            else:
                blob = build_simple_docx(
                    [("Attached Doc", "Heading 1"),
                     (_sentence(rng), "")], [])
                att = MIMEApplication(blob)
                att.add_header("Content-Disposition", "attachment",
                               filename=f"doc{seed}.docx")
            msg.attach(att)
    msg["Subject"] = f"Fuzz subject {seed} {rng.choice(_VOCAB)}"
    msg["From"] = f"sender{seed}@example.com"
    msg["To"] = "dest@example.com"
    return msg.as_bytes()


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_email_ab(ref_apps, seed):
    refstubs.install_reference_stubs()
    import rag.app.email as ref_email

    blob = _fuzz_eml(seed * 37 + 17)
    random.seed(seed)
    docs = ref_email.chunk("m.eml", binary=blob, lang="English",
                           callback=_noop)
    ref_chunks = [_remove_tag(c["content_with_weight"]) for c in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template("email", blob, "eml",
                                               "English")]
    assert ref_chunks == ours, seed


# ------------------------------------------------------------- pptx fuzz

def _fuzz_pptx(seed):
    """Slides mixing text boxes (with empty-paragraph runs), DrawingML
    tables (header: value render, ppt_parser.py:21-28), nested groups
    (recursive child sort), and shuffled (top//10, left) orders."""
    from ragflow_spark.core.office import build_simple_pptx

    rng = random.Random(seed)
    slides = []
    for sn in range(rng.randint(2, 5)):
        shapes = []
        tops = rng.sample(range(0, 40000, 700), 8)
        for j in range(rng.randint(1, 5)):
            form = rng.randint(0, 3)
            top, left = tops[j], rng.randint(0, 5000)
            if form == 0:
                shapes.append({"text": _fuzz_line(rng, sn * 7 + j) or "t",
                               "top": top, "left": left})
            elif form == 1:
                paras = [_sentence(rng) if rng.random() < 0.7 else ""
                         for _ in range(rng.randint(1, 4))]
                shapes.append({"text": paras, "top": top, "left": left})
            elif form == 2:
                ncols = rng.randint(2, 3)
                grid = [[f"h{c}" for c in range(ncols)]]
                for r in range(rng.randint(1, 3)):
                    grid.append([rng.choice(_VOCAB) for _ in range(ncols)])
                shapes.append({"table": grid, "top": top, "left": left})
            else:
                kids = [{"text": _sentence(rng),
                         "top": rng.randint(0, 3000),
                         "left": rng.randint(0, 500)}
                        for _ in range(rng.randint(1, 3))]
                shapes.append({"group": kids, "top": top, "left": left})
        slides.append(shapes)
    return build_simple_pptx(slides)


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_pptx_ab(ref_apps, seed):
    blob = _fuzz_pptx(seed * 41 + 19)
    random.seed(seed)
    docs = ref_apps["presentation"].chunk(
        "p.pptx", binary=blob, lang="English", callback=_noop)
    ref_chunks = [_remove_tag(c["content_with_weight"]) for c in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template("presentation", blob,
                                               "pptx", "English")]
    assert ref_chunks == ours, seed


# ------------------------------------------------- table template fuzz

_TABLE_VALS = [
    "42", "-3", "1.5", "99%%", "+7.25", "yes", "no", "是", "否", "✓", "×",
    "TRUE", "2021-04-05", "2020/01/02", "Jan 3, 2019", "05.06.2021",
    "plain text", "中文值", "", "3.0", "0.1e2", "1,000",
]


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_table_csv_ab(ref_apps, seed):
    """Column-type vote (table.py:35-71: int/float/bool/datetime/text
    majority with %%-stripping and multilingual bool symbols) over mixed
    adversarial columns — every cell class the vote dispatches on."""
    from test_reference_ab_office import _ref_table

    ref_table = _ref_table()
    rng = random.Random(seed * 43 + 23)
    ncols = rng.randint(2, 5)
    lines = ["\t".join(f"col {c} name" for c in range(ncols))]
    for _ in range(rng.randint(3, 12)):
        lines.append("\t".join(rng.choice(_TABLE_VALS)
                               for _ in range(ncols)))
    csv = "\n".join(lines) + ("\n" if rng.random() < 0.5 else "")
    random.seed(seed)
    docs = ref_table.chunk("t.csv", binary=csv.encode(), lang="English",
                           callback=_noop, kb_id="kb1")
    ref_chunks = [c["content_with_weight"] for c in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template("table", csv.encode(),
                                               "csv", "English")]
    assert ref_chunks == ours, seed


# ---------------------------------------- plain-parser (no-layout) fuzz

@pytest.mark.parametrize("parser", ["naive", "book", "paper", "manual",
                                    "one", "presentation", "laws"])
@pytest.mark.parametrize("seed", range(4))
def test_fuzz_plain_pdf_ab(ref_apps, parser, seed):
    """layout_recognize=False routes every template to the reference's
    REAL PlainParser/PlainPdf executing over the functional pypdf facade
    (refstubs._PyPdfReader, backed by the same pdf_mini primitives our
    plain_parse uses) — page windowing, kept-empty-line splitting, and
    each template's own filtering A/B byte-identical."""
    blob = _fuzz_pdf(seed * 59 + 37)
    mod = ref_apps[parser]
    random.seed(seed)
    docs = mod.chunk(f"pl{seed}.pdf", binary=blob, lang="English",
                     callback=_noop,
                     parser_config={"layout_recognize": False})
    ref_chunks = [_remove_tag(c["content_with_weight"]) for c in docs]
    random.seed(seed)
    ours = [c.chunk_text for c in run_template(
        parser, blob, "pdf", "English",
        cfg={"layout_recognize": False})]
    assert ref_chunks == ours, (parser, seed)
