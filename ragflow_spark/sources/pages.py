"""Deterministic synthetic Common-Crawl-style pages corpus (FIXTURES.md §1).

Schema per BASELINE.json ``input_hint``:
``url string, warc_ts timestamp, html binary, text string, lang string``
plus test-only dispatch columns ``parser`` (naive|book|paper) and ``fmt``
(html|txt|md|json|pdf).

Every document is a pure function of ``doc_id`` (seeded ``random.Random``),
so the corpus is identical at any parallelism, any scale prefix is stable,
and goldens can be generated without materializing the table. Generation
runs distributed (``mapInPandas`` over an id range) — building the corpus is
itself a scale-path operation.

Size distribution is Zipf-ish with deliberate giants (every 211th doc is
~100-400 KB, every 2003rd ~1-2 MB) to exercise the size-bucketed skew
handling in ``ragflow_spark.plans.partitioning``.
"""

from __future__ import annotations

import datetime as _dt
import json
import random

from ragflow_spark.core import pdf_mini

_WORDS = (
    "data spark query engine shuffle partition filter merge chunk token "
    "document extract content article section chapter heading paragraph "
    "pipeline scale cluster executor batch arrow vector column stream "
    "window join hash sort agg source sink text page crawl web html"
).split()

_ZH_WORDS = "数据 查询 引擎 分区 过滤 合并 文档 提取 内容 文章 章节 标题 段落 管道 集群".split()

# two corpus profiles:
# - "mixed": every format/template combination, for operator coverage
# - "web":   Common-Crawl-representative mix (html-dominant, per the
#   north star's input contract) — the scaling/bench corpus
FMT_CYCLES = {
    "mixed": (
        "html", "txt", "md", "json", "docx", "txt", "html", "pdf", "xlsx",
        "pptx", "eml",
    ),
    "web": (
        "html", "html", "html", "txt", "html", "pdf", "html", "md", "html",
        "json",
    ),
}
FMT_CYCLE = FMT_CYCLES["mixed"]
# corpus revision: bump when make_doc output changes for ANY doc_id so
# cached parquet corpora (.cache/pages_*) regenerate instead of serving
# stale bytes. rev 2 = r7 scanned-PDF slice in the web profile.
CORPUS_REV = 2


def corpus_cache_name(profile: str, n_docs: int) -> str:
    """Canonical .cache filename for a materialized corpus — revisioned so
    every tool (bench, scaling/scale/resume smokes) regenerates together."""
    return f"pages_{profile}{CORPUS_REV}_{n_docs}.parquet"
PARSER_CYCLE = (
    "naive", "naive", "book", "naive", "paper", "manual", "qa", "laws",
)
EPOCH = _dt.datetime(2024, 12, 18, 0, 0, 0)


def _sentences(rng: random.Random, n: int, zh: bool = False) -> list[str]:
    out = []
    pool = _ZH_WORDS if zh else _WORDS
    for _ in range(n):
        k = rng.randint(6, 18)
        words = [pool[rng.randrange(len(pool))] for _ in range(k)]
        if zh:
            out.append("，".join(words) + "。")
        else:
            s = " ".join(words)
            out.append(s[0].upper() + s[1:] + rng.choice([".", ".", "!", "?"]))
    return out


def _doc_size_sentences(doc_id: int, rng: random.Random) -> int:
    if doc_id % 2003 == 1000:
        return rng.randint(8000, 16000)   # ~1-2 MB giant
    if doc_id % 211 == 13:
        return rng.randint(800, 3200)  # ~100-400 KB big
    return rng.randint(8, 80)          # normal page


def _html_doc(rng: random.Random, sents: list[str], zh: bool) -> bytes:
    title = " ".join(sents[0].split()[:6]).rstrip(".!?")
    nav = "<nav class='navbar'>" + " | ".join(
        f"<a href='/{w}'>{w}</a>" for w in rng.sample(_WORDS, 5)
    ) + "</nav>"
    sidebar = "<div class='sidebar'>" + "".join(
        f"<a href='/ad{i}'>sponsored {i}</a>" for i in range(4)
    ) + "</div>"
    paras = "".join(
        f"<p>{s}</p>" for s in sents[1:]
    )
    footer = "<footer class='footer'>copyright 2024 fixture corp</footer>"
    enc = "gb18030" if zh else "utf-8"
    page = (
        f"<html><head><title>{title}</title>"
        f"<meta charset='{enc}'></head><body>{nav}{sidebar}"
        f"<article class='post-content'>{paras}</article>{footer}</body></html>"
    )
    return page.encode(enc, errors="ignore")


def _txt_doc(rng: random.Random, sents: list[str], parser: str) -> bytes:
    if parser == "qa":
        lines = []
        for i in range(0, max(2, len(sents) - 1), 2):
            q = " ".join(sents[i].split()[:8]).rstrip(".!?") + "?"
            a = sents[i + 1] if i + 1 < len(sents) else sents[i]
            lines.append(f"{q}\t{a}")
        return "\n".join(lines).encode()
    if parser == "laws":
        lines = []
        for i, s in enumerate(sents):
            if i % 3 == 0:
                lines.append(f"Article {i // 3 + 1}")
            lines.append(s)
        return "\n".join(lines).encode()
    if parser == "book":
        lines = []
        romans = ["I", "II", "III", "IV", "V", "VI", "VII", "VIII"]
        per = max(1, len(sents) // len(romans))
        for ci, r in enumerate(romans):
            lines.append(f"Chapter {r}")
            lines.extend(sents[ci * per:(ci + 1) * per])
        return "\n".join(lines).encode()
    if parser == "paper":
        lines = []
        n_secs = max(2, min(9, len(sents) // 4))
        per = max(1, len(sents) // n_secs)
        for si in range(n_secs):
            lines.append(f"Section {si + 1}")
            lines.extend(sents[si * per:(si + 1) * per])
        return "\n".join(lines).encode()
    return "\n".join(sents).encode()


def _md_doc(rng: random.Random, sents: list[str]) -> bytes:
    parts = []
    for i, s in enumerate(sents):
        if i % 7 == 0:
            parts.append(f"# {' '.join(s.split()[:4])}")
        parts.append(s)
    if rng.random() < 0.7:
        parts.append("")
        parts.append("| metric | value |")
        parts.append("|---|---|")
        for i in range(rng.randint(2, 6)):
            parts.append(f"| m{i} | {rng.randint(0, 999)} |")
        parts.append("")
    return "\n".join(parts).encode()


def _json_doc(rng: random.Random, sents: list[str]) -> bytes:
    obj = {
        f"field_{i}": (s if i % 3 else {"nested": s, "n": i})
        for i, s in enumerate(sents)
    }
    return json.dumps(obj, ensure_ascii=False).encode()


def _docx_doc(rng: random.Random, sents: list[str]) -> bytes:
    from ragflow_spark.core.office import build_simple_docx

    paras: list[tuple[str, str]] = []
    for i, s in enumerate(sents):
        if i % 6 == 0:
            paras.append((f"Article {i // 6 + 1}", "Heading 1"))
        paras.append((s, ""))
        if rng.random() < 0.15:
            # empty paragraph: python-docx walks these (answer-accumulator
            # templates append a bare newline per empty paragraph)
            paras.append(("", ""))
    tables = []
    if rng.random() < 0.5:
        grid: list[list] = [["metric", "value"]]
        for i in range(rng.randint(2, 5)):
            grid.append([f"m{i}", str(rng.randint(0, 99))])
        if rng.random() < 0.4:
            # real merged cells: banner row spanning both columns +
            # vMerge continuation in the first body column
            grid.insert(0, [{"text": "summary", "grid_span": 2}])
            if len(grid) > 3:
                grid[3] = [{"text": "", "v_merge": "continue"}, grid[3][1]]
        tables.append(grid)
    return build_simple_docx(paras, tables)


def _xlsx_doc(rng: random.Random, sents: list[str]) -> bytes:
    from ragflow_spark.core.office import build_simple_xlsx

    rows = [["name", "score", "note"]]
    for i, s in enumerate(sents[:200]):
        rows.append([f"row{i}", rng.randint(0, 999), " ".join(s.split()[:6])])
    return build_simple_xlsx({"metrics": rows})


def _pptx_doc(rng: random.Random, sents: list[str]) -> bytes:
    from ragflow_spark.core.office import build_simple_pptx

    slides, slide = [], []
    for s in sents:
        slide.append(s)
        if len(slide) >= 4:
            slides.append(slide)
            slide = []
    if slide:
        slides.append(slide)
    slides = slides or [[""]]
    # a minority of slides carry the non-text shapes the reference's
    # __extract dispatches on: DrawingML tables ('header: value; …'
    # rows), nested groups (child re-sort), empty-paragraph text bodies
    for sl in slides:
        r = rng.random()
        if r < 0.2:
            sl.append({"table": [["k", "v"],
                                 ["size", str(rng.randint(1, 99))],
                                 ["kind", "deck"]],
                       "top": 50000})
        elif r < 0.35:
            sl.append({"group": [
                {"text": "grouped note B", "top": 900, "left": 10},
                {"text": "grouped note A", "top": 100, "left": 10},
            ], "top": 60000})
        elif r < 0.45 and sl:
            sl[0] = {"text": [str(sl[0]), "", "after the blank line"],
                     "top": 0, "left": 0}
    return build_simple_pptx(slides)


def _pdf_doc(rng: random.Random, sents: list[str]) -> bytes:
    pages, page = [], []
    for s in sents:
        # keep lines latin-1-safe for the Type1 font model
        page.append(s.encode("latin-1", "replace").decode("latin-1"))
        if len(page) >= 40:
            pages.append(page)
            page = []
    if page:
        pages.append(page)
    pages = pages or [[""]]
    if rng.random() >= 0.5:
        return pdf_mini.build_simple_pdf(pages)
    # ~half the PDFs carry a captioned table page to exercise the TSR-lite
    # tier (grid inference, caption pairing, HTML table chunks)
    pos_pages = []
    for lines in pages:
        items, y = [], 770.0
        for ln in lines:
            items.append((72.0, y, ln))
            y -= 13.0
        pos_pages.append(items)
    items = [(72.0, 700.0, f"Table 1: metrics for run {rng.randint(1, 99)}")]
    xcols = (72.0, 200.0, 330.0, 460.0)
    y = 670.0
    for c, x in zip(("metric", "value", "unit", "note"), xcols):
        items.append((x, y, c))
    for r in range(rng.randint(3, 8)):
        y -= 15.0
        row = (f"m{r}", str(rng.randint(0, 9999)), "ms", f"sample {r}")
        for c, x in zip(row, xcols):
            items.append((x, y, c))
    pos_pages.append(items)
    return pdf_mini.build_positioned_pdf(pos_pages)


def is_scanned_pdf(doc_id: int, profile: str = "mixed") -> bool:
    """Scanned-class slice of the WEB (bench) corpus — corpus revision 2:
    every 4th pdf doc is an image-only PDF (no text layer, band-encoded
    page rasters) so the per-round bench exercises raster extraction +
    OCR fallback and tracks its cost (VERDICT r6 #5). ~2.5% of web docs,
    the ballpark share of scanned PDFs in CC-style crawls. The mixed
    profile is untouched: its docs feed the reference-executed goldens
    and the reference cannot run its OCR in this sandbox."""
    cycle = FMT_CYCLES[profile]
    return (profile == "web" and cycle[doc_id % len(cycle)] == "pdf"
            and (doc_id // len(cycle)) % 4 == 0)


def scanned_truths(doc_id: int) -> list[list[str]]:
    """Ground-truth text rows per page for a scanned doc — the strings the
    band-encoded rasters carry, which the fake OCR backend must recover
    EXACTLY (the same recovery contract test_pdf_wild pins)."""
    from ragflow_spark.operators.detect import synth_ocr_pages

    n_pages = 1 + doc_id % 2
    return [texts for _m, _px, _w, _h, texts in
            synth_ocr_pages(n_pages, seed=42_700_000 + doc_id)]


def _scanned_pdf_doc(doc_id: int) -> bytes:
    """Image-only ("scanned") PDF: 1-2 pages, each one band-encoded raster
    (operators/detect.synth_ocr_pages) painted full-page with NO text
    layer — pdf_mini.extract_boxes sees empty pages and the template tier
    falls back to scanned_pdf_pages (raster extract → OCR)."""
    from ragflow_spark.operators.detect import synth_ocr_pages

    n_pages = 1 + doc_id % 2
    pages = [(w, h, px) for _m, px, w, h, _t in
             synth_ocr_pages(n_pages, seed=42_700_000 + doc_id)]
    return pdf_mini.build_scanned_pdf(pages)


def _eml_doc(rng: random.Random, sents: list[str]) -> bytes:
    from email.message import EmailMessage

    msg = EmailMessage()
    msg["From"] = f"sender{rng.randint(0, 99)}@fixture.test"
    msg["To"] = f"rcpt{rng.randint(0, 99)}@fixture.test"
    msg["Subject"] = " ".join(sents[0].split()[:6]).rstrip(".!?")
    msg.set_content("\n".join(sents[1:]) or "empty body")
    if rng.random() < 0.3:
        if rng.random() < 0.5:
            # octet-stream .txt attachment: exercises the reference's
            # attachment RECURSION into naive_chunk (email.py:91-103)
            msg.add_attachment(
                "\n".join(sents[:4]).encode(),
                maintype="application", subtype="octet-stream",
                filename="notes.txt",
            )
        else:
            # charset-less text/plain attachment: real RAGFlow CRASHES on
            # these (email.py:63 .decode(None)); our engine's documented
            # leniency (utf-8/ignore) must still extract
            msg.add_attachment(
                "\n".join(sents[:4]).encode(),
                maintype="text", subtype="plain", filename="notes.txt",
            )
        # the stdlib generates a RANDOM multipart boundary; the corpus must
        # be a pure function of doc_id
        msg.set_boundary(f"=-fixture-boundary-{rng.randint(0, 10**9)}")
    return bytes(msg)


def make_doc(doc_id: int, profile: str = "mixed") -> dict:
    """The whole row for one doc_id — deterministic, no global state."""
    rng = random.Random(42_000_000 + doc_id)
    cycle = FMT_CYCLES[profile]
    fmt = cycle[doc_id % len(cycle)]
    # decoupled cycles so every (fmt, parser) combination occurs
    parser = PARSER_CYCLE[(doc_id // len(cycle)) % len(PARSER_CYCLE)]
    # template ↔ format compatibility (mirrors each template's dispatch)
    if parser in ("book", "paper") and fmt not in ("txt", "pdf"):
        parser = "naive"
    elif parser == "manual" and fmt not in ("pdf", "docx"):
        parser = "naive"
    elif parser == "qa" and fmt not in ("txt", "xlsx"):
        parser = "naive"
    elif parser == "laws" and fmt not in ("txt", "docx"):
        # laws yields zero chunks on bullet-less content (reference:
        # "No chunk parsed out") — only the txt/docx builders emit Articles
        parser = "naive"
    zh = fmt == "html" and doc_id % 11 == 5
    lang = "Chinese" if zh else "English"
    n = _doc_size_sentences(doc_id, rng)
    sents = _sentences(rng, n, zh=zh)
    if fmt == "html":
        blob = _html_doc(rng, sents, zh)
    elif fmt == "txt":
        blob = _txt_doc(rng, sents, parser)
    elif fmt == "md":
        blob = _md_doc(rng, sents)
    elif fmt == "json":
        blob = _json_doc(rng, sents)
    elif fmt == "docx":
        blob = _docx_doc(rng, sents)
    elif fmt == "xlsx":
        blob = _xlsx_doc(rng, sents)
    elif fmt == "pptx":
        blob = _pptx_doc(rng, sents)
        parser = "presentation"
    elif fmt == "eml":
        blob = _eml_doc(rng, sents)
        parser = "email"
    else:
        blob = (_scanned_pdf_doc(doc_id) if is_scanned_pdf(doc_id, profile)
                else _pdf_doc(rng, sents))
    return {
        "url": f"https://fixture.test/{fmt}/{parser}/{doc_id}",
        "warc_ts": EPOCH + _dt.timedelta(seconds=doc_id),
        "html": blob,
        "text": None,
        "lang": lang,
        "parser": parser,
        "fmt": fmt,
    }


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "parser string, fmt string"
)


def generate_pages_df(spark, n_docs: int, parallelism: int | None = None,
                      profile: str = "mixed"):
    """Distributed corpus build: ids via spark.range → mapInPandas."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = [make_doc(int(i), profile) for i in pdf["id"]]
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "warc_ts", "html", "text", "lang", "parser", "fmt"
                ],
            )

    rng_df = spark.range(0, n_docs, 1, parallelism or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)


def write_pages(spark, n_docs: int, path: str, parallelism: int | None = None,
                profile: str = "mixed") -> str:
    generate_pages_df(spark, n_docs, parallelism, profile).write.mode(
        "overwrite").parquet(path)
    return path
