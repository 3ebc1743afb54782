"""Deterministic token counting.

The reference counts tokens with tiktoken's ``cl100k_base`` BPE
(``rag/utils/__init__.py:77-86``). tiktoken is not available in this
environment (and its vocabulary file is not public-domain-shippable inside
this repo), so the engine defines its own deterministic tokenizer with the
same *statistical* behavior — ~4 chars/token for Latin script, ~1 token per
CJK character, one token per punctuation mark — and uses it consistently on
both the golden-fixture side and the pipeline side, so the byte-identity
gate is exact end-to-end.

This is the one documented deviation from the reference: chunk *boundaries*
depend on token counts, and any engine not shipping the identical BPE vocab
will draw them slightly differently. Boundary semantics (strictly-greater
budget test, <8-token tag drop, 218-token hierarchical repack) are preserved
exactly; only the counting function differs.
"""

from __future__ import annotations

import re

# GPT-2/cl100k-style pretokenizer, formulated so the MATCH COUNT equals the
# token count and the whole tally stays in C:
# - letter runs match in slices of ≤4 chars, so a run of length L yields
#   exactly ceil(L/4) matches (~4 chars/BPE-token for Latin script)
# - digit groups of ≤3 (cl100k groups digits in threes)
# - every other non-space, non-CJK symbol is one token
# - CJK chars (matched separately) are ~one token each
_PRETOK = re.compile(
    r"[A-Za-zÀ-ɏ]{1,4}"
    r"|[0-9]{1,3}"
    r"|[^\sA-Za-z0-9À-ɏ⺀-鿿぀-ヿ가-힯]"
)

# CJK unified ideographs + kana + hangul: roughly one BPE token per char.
_CJK = re.compile(r"[⺀-鿿぀-ヿ가-힯]")


def num_tokens_from_string(s: str) -> int:
    """Deterministic token count standing in for
    ``len(cl100k_base.encode(s))`` (rag/utils/__init__.py:82-86).
    subn('') counts matches without materializing them."""
    if not s:
        return 0
    try:
        return _PRETOK.subn("", s)[1] + _CJK.subn("", s)[1]
    except Exception:
        return 0


_ANYTOK = re.compile(_PRETOK.pattern + r"|[⺀-鿿぀-ヿ가-힯]")


def truncate(s: str, max_len: int) -> str:
    """Token-budget truncation (rag/utils/__init__.py:89-91). Without a real
    BPE decode round-trip we truncate on pretoken boundaries (every match of
    the combined pattern is one token)."""
    if num_tokens_from_string(s) <= max_len:
        return s
    total = 0
    end = 0
    for m in _ANYTOK.finditer(s):
        total += 1
        if total > max_len:
            break
        end = m.end()
    return s[:end]
