"""Tests: stdlib XLSX/PPTX parsing, the heuristic PDF layout path (spans),
the table-typing DataFrame operator, and streaming variants."""

import os

import pytest
from pyspark.sql import functions as F

from ragflow_spark.core import office, pdf_layout, pdf_mini
from ragflow_spark.core.spans import parse_spans
from ragflow_spark.core.templates import run_template


# ------------------------------------------------------------------ xlsx

def _xlsx():
    return office.build_simple_xlsx({
        "metrics": [
            ["name", "score", "date"],
            ["alpha", 1, "2024-01-01"],
            ["beta", 2.5, "2024-02-01"],
            [None, 3, "x"],
        ],
        "Sheet2": [["a"], ["v1"], ["v2"]],
    })


def test_xlsx_rows_reference_format():
    rows = office.parse_xlsx(_xlsx())
    # full-width colon, "; " join, ——sheet suffix for non-"sheet" names
    assert rows[0] == "name：alpha; score：1; date：2024-01-01 ——metrics"
    assert rows[2] == "score：3; date：x ——metrics"  # empty cell skipped
    assert rows[3] == "a：v1"  # "Sheet2" → no suffix


def test_xlsx_html_chunks():
    chunks = office.xlsx_to_html_chunks(_xlsx(), chunk_rows=2)
    assert chunks[0].startswith("<table><caption>metrics</caption>")
    assert chunks[0].count("<tr>") == 3  # header + 2 rows
    assert len([c for c in chunks if "metrics" in c]) == 2  # 3 rows / 2


def test_xlsx_template():
    cks = run_template("naive", _xlsx(), "xlsx")
    assert cks and "name：alpha" in cks[0].chunk_text


# ------------------------------------------------------------------ pptx

def test_pptx_slides_and_template():
    blob = office.build_simple_pptx([["Title", "Sub"], ["Body two"]])
    assert office.parse_pptx(blob) == ["Title\nSub", "Body two"]
    cks = run_template("presentation", blob, "pptx")
    assert [c.chunk_text for c in cks] == ["Title\nSub", "Body two"]
    assert [c.chunk_idx for c in cks] == [0, 1]


def test_pptx_shape_ordering():
    # shapes come back in (top//10, left) order regardless of XML order
    blob = office.build_simple_pptx([["first", "second", "third"]])
    assert office.parse_pptx(blob) == ["first\nsecond\nthird"]


# ------------------------------------------------------- pdf layout/spans

def test_pdf_layout_spans_roundtrip():
    # sections under 8 tokens drop their tags (naive_merge rule) — use
    # longer lines so every section keeps its position tag
    pdf = pdf_mini.build_simple_pdf([
        ["One long sentence with enough words to keep its position tag.",
         "Another line entirely that also has plenty of words in it,",
         "continuing here with further words to stay over the tag floor."],
        ["Page two content also needs to be long enough for its own tag."],
    ])
    cks = run_template("naive", pdf, "pdf")
    assert cks
    spans = [s for c in cks for s in c.spans]
    assert spans, "layout path must emit spans"
    assert {s.page for s in spans} == {0, 1}
    for s in spans:
        assert 0 <= s.left < s.right
        assert 0 <= s.top < s.bottom <= 800
    # tags strip back to the chunk text exactly
    for c in cks:
        assert parse_spans(c.tag_text) == c.spans


def test_pdf_vertical_merge_joins_comma_lines():
    pdf = pdf_mini.build_simple_pdf([
        ["A line ending with a comma,", "so this one joins it.", "Fresh sentence!"],
    ])
    secs = pdf_layout.layout_parse(pdf)
    texts = [t for t, _ in secs]
    assert any("comma,so this one joins it." in t for t in texts)


def test_pdf_layout_reading_order_across_pages():
    pdf = pdf_mini.build_simple_pdf([["aaa."], ["bbb."], ["ccc."]])
    secs = pdf_layout.layout_parse(pdf)
    joined = "".join(t for t, _ in secs)
    assert joined.index("aaa") < joined.index("bbb") < joined.index("ccc")


def test_sort_y_first_threshold_bubble():
    boxes = [
        {"text": "b", "x0": 50.0, "top": 10.5, "bottom": 20.0},
        {"text": "a", "x0": 10.0, "top": 11.0, "bottom": 20.0},
        {"text": "c", "x0": 10.0, "top": 40.0, "bottom": 50.0},
    ]
    out = pdf_layout.sort_y_first(boxes, threshold=3)
    assert [b["text"] for b in out] == ["a", "b", "c"]


# ---------------------------------------------------------- table typing

def test_table_typing_votes_and_cast(spark):
    from ragflow_spark.operators.tables import (
        apply_inferred_types,
        column_type_votes,
        table_rows_to_text,
    )

    df = spark.createDataFrame(
        [("1", "1.5", "2024-01-02", "hello"),
         ("2", "2.5", "2024-02-03", "world"),
         ("3", "x", "2024-03-04", "2")],
        ["a", "b", "c", "d"],
    )
    votes = column_type_votes(df)
    m = {r["column"]: r["inferred_type"] for r in votes.collect()}
    assert m == {"a": "integer", "b": "float", "c": "datetime", "d": "text"}
    typed = apply_inferred_types(df, votes)
    types = dict(typed.dtypes)
    assert types["a"] == "bigint" and types["b"] == "double"
    assert types["c"] == "timestamp"
    rendered = table_rows_to_text(typed, ["a", "d"]).select("row_text").collect()
    assert rendered[0]["row_text"].startswith("a：1; d：hello")


# -------------------------------------------------------------- streaming

def test_streaming_windowed_counts(spark, tmpdir_path):
    from ragflow_spark.streaming.events import (
        run_stream_to_parquet,
        windowed_counts_stream,
    )

    src = os.path.join(tmpdir_path, "events_src")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_counts_stream(stream, watermark="10 days")
    out = os.path.join(tmpdir_path, "stream_out")
    q = run_stream_to_parquet(
        agg.select("window_start", "event_type", "n_events", "sum_value"),
        out, os.path.join(tmpdir_path, "ckpt"),
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    from ragflow_spark.operators.events import windowed_counts

    want = windowed_counts(events)
    # watermark append-mode emits only closed windows; every emitted row
    # must match the batch result exactly
    j = got.join(
        want.withColumnRenamed("n_events", "n2").withColumnRenamed("sum_value", "s2"),
        ["window_start", "event_type"],
    )
    assert j.count() == got.count() > 0
    assert j.filter("n_events != n2 or abs(sum_value - s2) > 1e-6").count() == 0


# ------------------------------------------------------------------- docx

def test_docx_parse_and_templates():
    blob = office.build_simple_docx(
        [("Chapter I", "Heading 1"),
         ("Body text of the first chapter with details.", ""),
         ("Chapter II", "Heading 1"),
         ("Second chapter body text goes here now.", "")],
        tables=[[["k", "v"], ["x", "1"]]],
    )
    secs, tbls = office.parse_docx(blob)
    assert secs[0] == ("Chapter I", "Heading 1")
    assert tbls == ["k：x; v：1"]
    naive = run_template("naive", blob, "docx")
    # naive docx: HTML table chunks come FIRST (rag/app/naive.py:214 —
    # res = tokenize_table before the merged text chunks), colspan form
    assert naive[0].chunk_text == (
        "<table><tr><td>k</td><td>v</td></tr>"
        "<tr><td>x</td><td>1</td></tr></table>"
    )
    assert "Body text" in naive[1].chunk_text
    book = run_template("book", blob, "docx")
    # book docx: natural-language row lines, batched (tokenize_table rows
    # branch) — also ahead of the merged chunks
    assert book[0].chunk_text == "k: x;v: 1"  # DocxParser stacked-header form (docx_parser.py:30-111)
    assert any("Chapter I" in c.chunk_text and "first chapter" in c.chunk_text
               for c in book)


# --------------------------------------------------------------------- qa

def test_qa_txt_pairs_and_prefix_strip():
    blob = (b"Q: first question?\tA: first answer.\n"
            b"second question\tsecond answer\n"
            b"continuation line without tab\n"
            b"third\tfinal")
    cks = run_template("qa", blob, "txt")
    assert cks[0].chunk_text == "Question: first question?\tAnswer: first answer."
    # the non-2-column line extends the previous answer
    assert "continuation line" in cks[1].chunk_text
    assert len(cks) == 3


def test_qa_comma_delimiter_vote():
    # note: bare "q "/"a " at line start IS a label prefix to rmPrefix
    # (it matches the Q|A alternatives case-insensitively) — avoid it here
    blob = b"first one,uno\nsecond two,dos\nthird three,tres"
    cks = run_template("qa", blob, "txt")
    assert len(cks) == 3
    assert cks[0].chunk_text.startswith("Question: first one\tAnswer: uno")


def test_qa_xlsx():
    blob = office.build_simple_xlsx({"qa": [["what is x", "x is y"],
                                            ["what is z", "z is w"]]})
    cks = run_template("qa", blob, "xlsx")
    assert len(cks) == 2
    assert cks[0].chunk_text == "Question: what is x\tAnswer: x is y"


# ------------------------------------------------------------------- laws

def test_laws_hierarchical():
    blob = "\n".join([
        "Article 1",
        "All data must be partitioned and merged properly here.",
        "Article 2",
        "Skew shall be handled with salting and care always.",
    ]).encode()
    cks = run_template("laws", blob, "txt")
    assert len(cks) == 2
    assert cks[0].chunk_text.startswith("Article 1\n")


# ------------------------------------------------------ two-column (W2)

def _two_col_pdf():
    page = []
    for i, t in enumerate(["L1 left column first line here",
                           "L2 left second line words",
                           "L3 left third line words"]):
        page.append((72, 700 - 40 * i, t))
    for i, t in enumerate(["R1 right column first", "R2 right second",
                           "R3 right third"]):
        page.append((320, 700 - 40 * i, t))
    return pdf_mini.build_positioned_pdf([page])


def test_two_column_reorder_reads_columns_in_order():
    secs = pdf_layout.layout_parse(_two_col_pdf(), two_column=True)
    order = [t[:2] for t, _ in secs]
    assert order == ["L1", "L2", "L3", "R1", "R2", "R3"]


def test_without_two_column_interleaves_by_line():
    secs = pdf_layout.layout_parse(_two_col_pdf(), two_column=False)
    joined = " ".join(t for t, _ in secs)
    # Y-first order interleaves the columns line by line
    assert joined.index("L1") < joined.index("R1") < joined.index("L2")


def test_same_line_fragments_still_merge():
    blob = pdf_mini.build_positioned_pdf(
        [[(72, 700, "Start of a line "), (200, 700, "that continues right here.")]]
    )
    secs = pdf_layout.layout_parse(blob)
    assert [t for t, _ in secs] == ["Start of a line that continues right here."]


def test_paper_template_pdf_layout_branch_emits_spans():
    blob = pdf_mini.build_simple_pdf([[
        "Section 1",
        "A long enough introduction sentence with plenty of words to keep tags.",
        "Section 2",
        "A long enough experiments sentence with plenty of words to keep tags.",
    ]])
    cks = run_template("paper", blob, "pdf")
    assert any(c.spans for c in cks)


def test_kmeans_refine_centroid_is_cluster_mean(spark):
    from ragflow_spark.operators.similarity import kmeans_refine

    rows = [
        (1, 1, [1.0, 3.0]), (2, 1, [3.0, 5.0]),  # cluster 1 mean [2,4]
        (3, 2, [10.0, 0.0]),                      # cluster 2 mean [10,0]
    ]
    df = spark.createDataFrame(rows, ["vec_id", "cluster_id", "embedding"])
    cents = {r["cluster_id"]: r["centroid"]
             for r in kmeans_refine(df, "embedding", "vec_id").collect()}
    assert cents[1] == [2.0, 4.0]
    assert cents[2] == [10.0, 0.0]


def test_kmeans_refine_improves_assignment(spark):
    from ragflow_spark.operators.similarity import (
        ivf_build, kmeans_refine, make_centroids_from_rows,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents0 = make_centroids_from_rows(e, "embedding", "vec_id", 4)
    idx0 = ivf_build(e, "embedding", "vec_id", cents0)
    cents1 = kmeans_refine(idx0, "embedding", "vec_id")
    idx1 = ivf_build(e, "embedding", "vec_id", cents1)
    # every vector still assigned exactly once
    assert idx1.count() == e.count()
    assert idx1.select("cluster_id").distinct().count() <= 4


# ---------------------------------------------------- garbage/chrome drop

def test_garbage_lines_dropped():
    blob = pdf_mini.build_simple_pdf([[
        "Real content line with plenty of words to survive filtering.",
        "3 / 12",
        "someone@example.com",
        "......................",
        "More genuine content follows after the junk lines here.",
    ]])
    secs = pdf_layout.layout_parse(blob)
    joined = " ".join(t for t, _ in secs)
    assert "Real content" in joined and "genuine content" in joined
    assert "3 / 12" not in joined
    assert "example.com" not in joined


def test_repeated_header_footer_dropped():
    page = lambda body: [
        (72, 780, "ACME Corp Quarterly Report"),      # header band
        (72, 500, body),
        (72, 10, "page footer — confidential"),       # footer band
    ]
    blob = pdf_mini.build_positioned_pdf([
        page("Body one has words."), page("Body two has words."),
    ])
    secs = pdf_layout.layout_parse(blob)
    joined = " ".join(t for t, _ in secs)
    assert "Body one" in joined and "Body two" in joined
    assert "ACME Corp" not in joined
    assert "confidential" not in joined


def test_single_occurrence_banded_line_survives():
    blob = pdf_mini.build_positioned_pdf([
        [(72, 780, "A unique title right at the top"), (72, 500, "Body words.")],
        [(72, 500, "Second page body words.")],
    ])
    secs = pdf_layout.layout_parse(blob)
    joined = " ".join(t for t, _ in secs)
    assert "unique title" in joined


def _docx_with_merged_table() -> bytes:
    """Hand-built document.xml: row 1 has a gridSpan=2 header over cols
    B/C and a vMerge restart in col A continued in row 2."""
    import zipfile
    from io import BytesIO

    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

    def tc(text, extra=""):
        pr = f"<w:tcPr>{extra}</w:tcPr>" if extra else ""
        return f"<w:tc>{pr}<w:p><w:r><w:t>{text}</w:t></w:r></w:p></w:tc>"

    row1 = ("<w:tr>"
            + tc("Region", '<w:vMerge w:val="restart"/>')
            + tc("Sales", '<w:gridSpan w:val="2"/>')
            + "</w:tr>")
    row2 = ("<w:tr>"
            + tc("", "<w:vMerge/>")
            + tc("Q1") + tc("Q2")
            + "</w:tr>")
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/></Types>')
        zf.writestr(
            "word/document.xml",
            f'<?xml version="1.0"?><w:document xmlns:w="{w}"><w:body>'
            f"<w:tbl>{row1}{row2}</w:tbl></w:body></w:document>")
    return buf.getvalue()


def test_docx_table_grids_expands_merged_cells():
    """python-docx row.cells semantics: gridSpan repeats the cell text
    across spanned columns; vMerge continue inherits the origin above —
    merged-cell tables must not produce ragged/shifted grids."""
    grids = office.docx_table_grids(_docx_with_merged_table())
    assert grids == [[
        ["Region", "Sales", "Sales"],
        ["Region", "Q1", "Q2"],
    ]]


def test_office_fixture_bytes_do_not_depend_on_the_clock(monkeypatch):
    """make_doc is a pure function of doc_id: the docx/xlsx/pptx writers
    stamp no wall-clock time into their zip members, and keep each member
    deflated."""
    import io
    import time
    import zipfile

    from ragflow_spark.sources import pages as pages_src

    ids = [4, 8, 9]  # docx, xlsx, pptx in the mixed cycle
    assert [pages_src.make_doc(i)["fmt"] for i in ids] == [
        "docx", "xlsx", "pptx"]
    runs = []
    for clock in (1_600_000_000.0, 1_700_000_123.0):
        monkeypatch.setattr(time, "time", lambda c=clock: c)
        runs.append([pages_src.make_doc(i)["html"] for i in ids])
    assert runs[0] == runs[1]
    for blob in runs[0]:
        infos = zipfile.ZipFile(io.BytesIO(blob)).infolist()
        assert infos and all(
            i.compress_type == zipfile.ZIP_DEFLATED for i in infos)
