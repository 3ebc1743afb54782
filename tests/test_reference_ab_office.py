"""A/B for template×format combos the shared corpus never pairs, now
executable through the OOXML facades (tests/refoffice.py): book-docx
(DocxParser stacked-header table composition), qa-md (markdown answers),
qa-docx (Heading question stack). The corpus-level golden
(tests/test_ref_goldens.py) covers the in-corpus combos.
"""

from __future__ import annotations

import random
import re
import sys

import pytest

sys.path.insert(0, "tests")
import refstubs  # noqa: E402

from ragflow_spark.core.office import build_simple_docx  # noqa: E402
from ragflow_spark.core.templates import run_template  # noqa: E402

pytestmark = refstubs.requires_reference


def _noop(*a, **k):
    pass


def _strip(t):
    return re.sub(r"@@[\t0-9.-]+?##", "", t)


@pytest.fixture(scope="module")
def ref_apps():
    refstubs.install_reference_stubs()
    import rag.app.book as book
    import rag.app.qa as qa

    return {"book": book, "qa": qa}


def _book_docx_blob(seed):
    r = random.Random(seed)
    paras = []
    for ch in range(1, r.randint(2, 5)):
        paras.append((f"Chapter {['I', 'II', 'III', 'IV'][ch - 1]}",
                      "Heading 1"))
        for a in range(r.randint(2, 5)):
            paras.append((f"Body sentence {ch}-{a} about the topic with "
                          "enough words to matter.", ""))
    tables = []
    if seed % 2 == 0:
        tables.append([["metric", "value"]] + [
            [f"m{i}", str(r.randint(0, 99))] for i in range(r.randint(2, 6))
        ])
    if seed % 3 == 0:
        tables.append([["name", "qty", "unit", "note"]] + [
            [f"n{i}", str(r.randint(0, 9)), "kg", f"note {i}"]
            for i in range(3)
        ])
    return build_simple_docx(paras, tables)


# seed 6 excluded: its corpus has a single Chapter heading and the
# reference's bullets_category votes over random.choices WITH REPLACEMENT
# (book.py:119), which misses the lone heading under that seed — the
# SURVEY §7.3.2 full-list-vote deviation, documented, not a bug
@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4, 5, 7])
def test_book_docx_ab(ref_apps, seed):
    blob = _book_docx_blob(seed)
    random.seed(seed)
    docs = ref_apps["book"].chunk("b.docx", binary=blob, lang="English",
                                  callback=_noop)
    ref = [_strip(c["content_with_weight"]) for c in docs]
    ours = [c.chunk_text for c in run_template("book", blob, "docx",
                                               "English")]
    assert ref == ours, seed


def test_qa_md_ab(ref_apps):
    md = ("# What is alpha?\nAlpha is the first letter.\n\n"
          "## What is beta?\nBeta follows alpha.\nMore answer text.\n"
          "```\n# not a question inside code\n```\n"
          "# What is gamma?\nGamma is third.\n").encode()
    random.seed(0)
    docs = ref_apps["qa"].chunk("q.md", binary=md, lang="English",
                                callback=_noop)
    ref = [_strip(c["content_with_weight"]) for c in docs]
    ours = [c.chunk_text for c in run_template("qa", md, "md", "English")]
    assert ref == ours


def test_qa_docx_ab(ref_apps):
    paras = [("What is A?", "Heading 1"), ("A is the first letter.", ""),
             ("What is B?", "Heading 1"), ("B follows A.", ""),
             ("Extra answer line.", ""),
             ("What about sub-B?", "Heading 2"), ("Sub answer.", "")]
    blob = build_simple_docx(paras, [])
    random.seed(0)
    docs = ref_apps["qa"].chunk("q.docx", binary=blob, lang="English",
                                callback=_noop)
    ref = [_strip(c["content_with_weight"]) for c in docs]
    ours = [c.chunk_text for c in run_template("qa", blob, "docx",
                                               "English")]
    assert ref == ours


def _one_apps():
    import logging

    refstubs.install_reference_stubs()
    import rag.app.laws as laws
    import rag.app.one as one

    laws.logging = logging
    return one


@pytest.mark.parametrize("seed", range(4))
def test_one_docx_ab(ref_apps, seed):
    one = _one_apps()
    r = random.Random(seed)
    paras = []
    for ch in range(1, r.randint(2, 4)):
        paras.append((f"Section {ch}", "Heading 1"))
        for a in range(r.randint(1, 4)):
            paras.append((f"One-template body {ch}-{a} with several "
                          "words.", ""))
    blob = build_simple_docx(paras, [])
    random.seed(seed)
    docs = one.chunk("o.docx", binary=blob, lang="English", callback=_noop)
    ref = [_strip(c["content_with_weight"]) for c in docs]
    ours = [c.chunk_text for c in run_template("one", blob, "docx",
                                               "English")]
    assert ref == ours, seed


@pytest.mark.parametrize("seed", range(4))
def test_one_xlsx_ab(ref_apps, seed):
    from ragflow_spark.core.office import build_simple_xlsx

    one = _one_apps()
    r = random.Random(seed)
    rows = [["name", "score", "note"]] + [
        [f"r{i}", str(r.randint(0, 99)), f"n{i}"]
        for i in range(r.randint(2, 6))
    ]
    blob = build_simple_xlsx({"metrics": rows,
                              "extra": [["a", "b"], ["1", "2"]]})
    random.seed(seed)
    docs = one.chunk("o.xlsx", binary=blob, lang="English", callback=_noop)
    ref = [_strip(c["content_with_weight"]) for c in docs]
    ours = [c.chunk_text for c in run_template("one", blob, "xlsx",
                                               "English")]
    assert ref == ours, seed


# ----------------------------------------------------- table template

def _ref_table():
    import re as _re
    import types as _types

    refstubs.install_reference_stubs()
    sys.modules.setdefault("xpinyin", _types.SimpleNamespace(
        Pinyin=lambda: _types.SimpleNamespace(
            get_pinyins=lambda s, sep: [
                _re.sub(r"[^a-z0-9]+", sep, str(s).lower()) or "col"])))
    import api.db.services.knowledgebase_service as kbs

    class _KB:
        @classmethod
        def update_parser_config(cls, kb_id, cfg):
            pass

    kbs.KnowledgebaseService = _KB
    import importlib

    import rag.app.table as ref_table
    importlib.reload(ref_table)
    return ref_table


def test_table_csv_ab(ref_apps):
    ref_table = _ref_table()
    csv = ("name\tage\tmember\tjoined\tscore\n"
           "alice\t31\tyes\t2021-04-05\t9.5\n"
           "bob\t28\tno\t2020-01-02\t7\n"
           "carol\t40\t✓\t2019-12-31\t8.25\n")
    random.seed(0)
    docs = ref_table.chunk("t.csv", binary=csv.encode(), lang="English",
                           callback=_noop, kb_id="kb1")
    ref = [c["content_with_weight"] for c in docs]
    ours = [c.chunk_text for c in run_template("table", csv.encode(),
                                               "csv", "English")]
    assert ref == ours


@pytest.mark.parametrize("seed", range(6))
def test_table_xlsx_ab(ref_apps, seed):
    from ragflow_spark.core.office import build_simple_xlsx

    ref_table = _ref_table()
    r = random.Random(seed)
    rows = [["name", "age", "member", "joined", "score", "idx"]]
    for i in range(r.randint(3, 10)):
        age = str(r.randint(18, 80)) if r.random() < 0.8 else "unknown"
        rows.append([
            f"p{i}", age, r.choice(["yes", "no", "✓"]),
            f"20{r.randint(10, 25)}-0{r.randint(1, 9)}-1{r.randint(0, 9)}",
            f"{r.randint(0, 99)}.{r.randint(0, 9)}", str(i),
        ])
    blob = build_simple_xlsx({"people": rows,
                              "more": [["k", "v"], ["a", "1"], ["b", "2"]]})
    random.seed(seed)
    docs = ref_table.chunk("t.xlsx", binary=blob, lang="English",
                           callback=_noop, kb_id="kb1")
    ref = [c["content_with_weight"] for c in docs]
    ours = [c.chunk_text for c in run_template("table", blob, "xlsx",
                                               "English")]
    assert ref == ours, seed
