"""Position tags and span structs.

The reference serializes a text box's page/coordinates into an inline tag
``"@@{pn[-pn2…]}\t{x0:.1f}\t{x1:.1f}\t{top:.1f}\t{bottom:.1f}##"``
(deepdoc/parser/pdf_parser.py:843-857 ``_line_tag``), strips it with
``remove_tag`` (pdf_parser.py:1042-1043) and re-parses it in ``crop``
(pdf_parser.py:1045-1058). ``add_positions`` (rag/nlp/__init__.py:291-303)
converts parsed tuples into 1-based-page int lists.

These tags are the engine's span-offset output contract: every chunk carries
``tag_text`` (text including tags, byte-identical) and ``spans`` (the parsed
structs).
"""

from __future__ import annotations

import re
from typing import NamedTuple


class Span(NamedTuple):
    page: int          # 0-based page number as parsed from the tag
    left: float
    right: float
    top: float
    bottom: float


_TAG_RE = re.compile(r"@@[0-9-]+\t[0-9.\t]+##")
_TAG_PARSE = re.compile(
    r"@@([0-9-]+)\t([0-9.]+)\t([0-9.]+)\t([0-9.]+)\t([0-9.]+)##"
)


def line_tag(page_number: int, x0: float, x1: float, top: float, bottom: float,
             extra_pages: list[int] | None = None) -> str:
    """Serialize one box position (pdf_parser.py:843-857). ``page_number``
    is 1-based as in the reference's box dicts."""
    pages = [page_number] + list(extra_pages or [])
    return "@@{}\t{:.1f}\t{:.1f}\t{:.1f}\t{:.1f}##".format(
        "-".join(str(p) for p in pages), x0, x1, top, bottom
    )


def remove_tag(txt: str) -> str:
    """pdf_parser.py:1042-1043."""
    return _TAG_RE.sub("", txt)


def parse_spans(txt: str) -> list[Span]:
    """Parse every tag in a chunk into spans, exactly as ``crop`` reads them
    (pdf_parser.py:1045-1058): the page field may be 'p1-p2-…'; each listed
    page yields one span with the same coordinates, page stored 0-based
    (crop does ``int(i) - 1``)."""
    out: list[Span] = []
    for m in _TAG_PARSE.finditer(txt):
        pages = [int(p) - 1 for p in m.group(1).split("-")]
        left, right, top, bottom = (float(m.group(i)) for i in range(2, 6))
        for pn in pages:
            out.append(Span(pn, left, right, top, bottom))
    return out
