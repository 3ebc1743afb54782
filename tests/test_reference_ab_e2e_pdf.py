"""END-TO-END template A/B on text-layer PDFs: the reference's own
``rag.app.*.chunk()`` executing its real ``Pdf.__call__`` orchestration
(_layouts_rec walk, _text_merge, _extract_table_figure, W4/W5/F5/W6 merge
tiers, _line_tag) against our ``run_template`` on the same bytes.

Vision is the shared stand-in on BOTH sides (refstubs.template_pdf_
instance): __images__ -> our pdf_mini char scan, detector proposals -> our
tsr_lite table-region/caption heuristics, TSR model -> no-op geometry
fallback, up-down booster -> rule_score, F3/F4 prefilter at the layouter
position. Everything downstream is the reference executing — a mismatch
is an orchestration/stage-order divergence, exactly what SURVEY §3.3 pins.

Templates covered: naive, book, paper, manual, one, presentation (corpus
pdf docs), laws + qa (bullet-structured fixtures — the corpus never maps
those parsers to pdf).
"""

from __future__ import annotations

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

    # upstream laws.py calls logging.debug without importing logging
    # (v0.13.0 bug — rag/app/laws.py:154 would NameError on the pdf path)
    laws.logging = logging
    return {
        "naive": naive, "book": book, "paper": paper, "manual": manual,
        "one": one, "presentation": presentation, "laws": laws, "qa": qa,
    }


def _ab(mod, parser, blob, lang, seed):
    """Run reference chunk() with the prepared Pdf instance vs ours."""
    inst = refstubs.template_pdf_instance(mod.Pdf, blob, lang)
    orig = mod.Pdf
    try:
        mod.Pdf = lambda: inst
        random.seed(seed)  # is_english samples via random.choices
        docs = mod.chunk(f"fx{seed}.pdf", binary=blob, lang=lang,
                         callback=_noop)
    finally:
        mod.Pdf = orig
    ref_chunks = [_remove_tag(c["content_with_weight"]) for c in docs]
    ours = [c.chunk_text for c in run_template(parser, blob, "pdf", lang)]
    assert ref_chunks == ours, (parser, seed, len(ref_chunks), len(ours))
    return len(ref_chunks)


def _corpus_pdfs(n=6, max_pages=12):
    """Reference-executable pdf docs from the shared mixed corpus."""
    from ragflow_spark.sources.pages import make_doc

    out = []
    doc_id = 0
    while len(out) < n and doc_id < 2000:
        d = make_doc(doc_id)
        if d["fmt"] == "pdf" and \
                len(pdf_mini.extract_boxes(d["html"])) <= max_pages:
            out.append((doc_id, d))
        doc_id += 1
    return out


@pytest.mark.parametrize("parser", ["naive", "book", "paper", "manual",
                                    "one", "presentation"])
def test_pdf_template_e2e_ab(ref_apps, parser):
    n_chunks = 0
    for doc_id, d in _corpus_pdfs(6):
        n_chunks += _ab(ref_apps[parser], parser, d["html"], d["lang"],
                        doc_id)
    assert n_chunks > 0


def _mk_laws_pdf(seed):
    r = random.Random(seed)
    lines = ["NATIONAL DATA GOVERNANCE ACT", ""]
    for ch in ("I", "II", "III"):
        lines.append(f"Chapter {ch}")
        for a in range(1, r.randint(3, 6)):
            lines.append(
                f"Article {a}. This article regulates item {a} of "
                f"chapter {ch}.")
            for _ in range(r.randint(1, 3)):
                lines.append("Additional provision text continues the "
                             "article body here.")
    pages = [lines[i:i + 18] for i in range(0, len(lines), 18)]
    return pdf_mini.build_simple_pdf(pages)


def _mk_qa_pdf(seed):
    r = random.Random(seed)
    lines = []
    for q in range(1, r.randint(4, 8)):
        lines.append(f"QUESTION {q}")
        lines.append(f"What is the meaning of term {q} in the glossary?")
        for _ in range(r.randint(1, 3)):
            lines.append(f"The answer explains term {q} in detail with "
                         "more words here.")
    pages = [lines[i:i + 15] for i in range(0, len(lines), 15)]
    return pdf_mini.build_simple_pdf(pages)


@pytest.mark.parametrize("seed", range(8))
def test_laws_pdf_e2e_ab(ref_apps, seed):
    _ab(ref_apps["laws"], "laws", _mk_laws_pdf(seed), "English", seed)


@pytest.mark.parametrize("seed", range(8))
def test_qa_pdf_e2e_ab(ref_apps, seed):
    _ab(ref_apps["qa"], "qa", _mk_qa_pdf(seed), "English", seed)


# -------------------------------------------- giant PDFs (task windows)

def _mk_giant_pdf(seed, npages=30):
    r = random.Random(seed)
    words = ("data spark query engine shuffle partition filter merge "
             "chunk token document extract").split()
    pages = []
    for pn in range(npages):
        lines = [f"Chapter {pn + 1}" if pn % 5 == 0
                 else f"Section {pn + 1}.1"]
        for _ in range(r.randint(10, 25)):
            k = r.randint(6, 14)
            lines.append(" ".join(r.choice(words) for _ in range(k))
                         .capitalize() + r.choice([".", "!", "?"]))
        pages.append(lines)
    return pdf_mini.build_simple_pdf(pages)


def test_giant_pdf_one_whole_doc_ab(ref_apps):
    """one/KG are whole-doc tasks (task_service.py:172-174): a 30-page
    one-template doc runs the reference ONCE end-to-end — W5 merges may
    cross every page — and must equal our unwindowed run."""
    blob = _mk_giant_pdf(1)
    _ab(ref_apps["one"], "one", blob, "English", 1)


@pytest.mark.parametrize("parser", ["naive", "book", "paper", "manual",
                                    "laws", "presentation"])
def test_giant_pdf_window_ab(ref_apps, parser):
    """30-page PDFs: our run_template's production task windowing must
    equal the reference chunk()ed once per page window (12/22 per
    task_service.py:164-186)."""
    from ragflow_spark.core.templates import PDF_TASK_PAGES

    mod = ref_apps[parser]
    size = PDF_TASK_PAGES.get(parser, 12)
    for seed in range(2):
        blob = _mk_giant_pdf(seed)
        npages = pdf_mini.page_count(blob)
        assert npages > size
        ref = []
        for p in range(0, npages, size):
            inst = refstubs.template_pdf_instance(mod.Pdf, blob, "English")
            orig = mod.Pdf
            try:
                mod.Pdf = lambda: inst
                random.seed(seed * 100 + p)
                docs = mod.chunk(f"g{seed}.pdf", binary=blob,
                                 lang="English", callback=_noop,
                                 from_page=p, to_page=min(p + size, npages))
                ref.extend(_remove_tag(c["content_with_weight"])
                           for c in docs)
            finally:
                mod.Pdf = orig
        random.seed(seed)
        ours = [c.chunk_text for c in run_template(parser, blob, "pdf",
                                                   "English")]
        assert ref == ours, (parser, seed)
