"""Text-analysis operators: language ID, quality scoring, token stats,
document fingerprinting. All JVM-native (regexp + arithmetic), mirrored
1:1 in the DuckDB oracles; the winnowing fingerprint is the one Arrow-UDF
member (rolling hash is inherently sequential per doc).
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from ragflow_spark.functions.text import (
    char_count,
    fingerprint_md5,
    normalize_text,
    punct_ratio,
    stopword_hits,
    token_count,
)

# small, deterministic stopword banks (top function words per language)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"],
    "es": ["el", "la", "los", "las", "es", "una", "con", "por", "que", "para"],
    "fr": ["le", "la", "les", "est", "une", "avec", "pour", "que", "dans", "sur"],
}


def lang_scores(col):
    """Per-language stopword-hit ratios + CJK char ratio."""
    toks = token_count(col)
    out = {}
    for lang, words in STOPWORDS.items():
        out[lang] = F.round(
            stopword_hits(col, words).cast("double")
            / F.greatest(toks, F.lit(1)).cast("double"),
            6,
        )
    cjk = F.length(col) - F.length(F.regexp_replace(col, r"[一-鿿]", ""))
    out["zh"] = F.round(
        cjk.cast("double") / F.greatest(F.length(col), F.lit(1)).cast("double"), 6
    )
    return out


# fixed argmax tie-break order of the language predictor
LANG_ORDER = ["en", "de", "es", "fr", "zh"]


def lang_columns(col: Column) -> dict[str, Column]:
    """The stopword/CJK language predictor as native columns:
    ``score_<lang>`` per ``LANG_ORDER`` entry and ``pred_lang``, the
    argmax of the score vector ('und' when every signal is zero; ties go
    to the earlier language in ``LANG_ORDER``)."""
    s = lang_scores(col)
    best = F.greatest(*[s[k] for k in LANG_ORDER])
    pred = F.when(best <= 0, F.lit("und"))
    for k in LANG_ORDER:
        pred = pred.when(s[k] == best, F.lit(k))
    return {**{f"score_{k}": s[k] for k in LANG_ORDER}, "pred_lang": pred}


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """N-gram/stopword-heuristic language ID (``lang_columns``) as one
    projection."""
    cols = lang_columns(F.col(text_col))
    return df.select(F.col(id_col), *[v.alias(k) for k, v in cols.items()])


def quality_columns(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-density features and the boolean
    C4-style ``quality_keep`` rule: ≥ 5 tokens, 2 ≤ mean word length
    ≤ 12, punctuation ratio ≤ 0.3."""
    toks = token_count(text)
    nz = F.greatest(toks, F.lit(1))
    mean_wordlen = F.round(
        F.length(F.regexp_replace(text, r"\s+", "")).cast("double") / nz, 6
    )
    pr = F.round(punct_ratio(text), 6)
    return {
        "n_tokens": toks,
        "n_chars": char_count(text),
        "mean_word_len": mean_wordlen,
        "punct_ratio": pr,
        "stopword_ratio": F.round(
            stopword_hits(text, STOPWORDS["en"]).cast("double") / nz, 6
        ),
        "quality_keep": (
            (toks >= 5)
            & (mean_wordlen >= 2.0) & (mean_wordlen <= 12.0)
            & (pr <= 0.3)
        ),
    }


def quality_features(df: DataFrame, id_col: str, text_col: str,
                     include_c4_lines: bool = False,
                     passthrough: tuple = ()) -> DataFrame:
    """Per-doc ``quality_columns`` with the keep flag as int. With
    ``include_c4_lines`` the C4 line-cleaning audit columns
    (``c4_line_columns``) ride the SAME projection — no join, no second
    scan. ``passthrough`` columns (names or Column exprs, e.g. a
    fingerprint over the text) ride the projection too, so downstream
    rollups never self-join the scan to get them back."""
    c = F.col(text_col)
    cols = quality_columns(c)
    cols["quality_keep"] = cols["quality_keep"].cast("int")
    if include_c4_lines:
        cols.update(c4_line_columns(c))
    return df.select(
        F.col(id_col),
        *[v.alias(k) for k, v in cols.items()],
        *[F.col(p) if isinstance(p, str) else p for p in passthrough],
    )


def _c4_kept_lines(lines: Column) -> Column:
    """The shared C4 line predicate: terminal punctuation, ≥5 words, no
    word-bounded 'javascript' (order-preserving filter)."""
    return F.filter(
        lines,
        lambda ln: F.trim(ln).rlike('[.!?"]$')
        & (F.size(F.split(F.trim(ln), r"\s+")) >= 5)
        & ~F.lower(ln).rlike(r"\bjavascript\b"),
    )


def c4_line_columns(text: Column) -> dict[str, Column]:
    """The C4 LINE-level cleaning rules (Raffel et al. 2020 §2.2, public)
    as native columns over one text expression:

    - a line is KEPT iff it ends in terminal punctuation (``.!?"``), has
      ≥ 5 whitespace words, and does not contain the word "javascript"
      (case-insensitive, word-bounded)
    - the PAGE is kept iff ≥ 3 lines survive and the page contains
      neither a curly brace nor "lorem ipsum"

    Documented deviation: C4 counted nltk sentences for the ≥3 gate; the
    kept-LINE count stands in (deterministic, no model). The bad-words
    list is licensing-encumbered and not vendored — compose a caller
    blocklist via an extra filter if required. Zero UDFs, zero shuffles;
    feed '\\n'-normalized text (CRLF upstream of this keeps '\\r' glued
    to the line and fails the terminal-punct test).

    The per-line predicate is shared verbatim with the DuckDB oracle
    (Java-regex ↔ RE2 common subset, the pii.py contract)."""
    lines = F.split(text, "\n")
    kept = _c4_kept_lines(lines)
    n_kept = F.size(kept)
    return {
        "lines_total": F.size(lines),
        "lines_kept": n_kept,
        "clean_md5": F.md5(F.array_join(kept, "\n")),
        "c4_page_keep": (
            (n_kept >= 3)
            & ~text.contains("{")
            & ~F.lower(text).contains("lorem ipsum")
        ).cast("int"),
    }


def c4_line_filter(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc C4 line-cleaning audit: line counts, md5 of the cleaned
    text (kept lines re-joined in order), and the page-level keep bit.
    One codegen projection — rides the same scan as the rest of the
    quality tier at any scale."""
    cols = c4_line_columns(F.col(text_col))
    return df.select(
        F.col(id_col), *[v.alias(k) for k, v in cols.items()]
    )


def c4_clean_text(text: Column) -> Column:
    """The cleaned text itself (kept lines re-joined) for pipelines that
    materialize the transform rather than audit it."""
    return F.array_join(_c4_kept_lines(F.split(text, "\n")), "\n")


def token_stats_by(df: DataFrame, group_cols: list[str], text_col: str) -> DataFrame:
    c = F.col(text_col)
    return (
        df.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(c)).alias("total_tokens"),
            F.round(F.avg(token_count(c)), 4).alias("avg_tokens"),
            F.round(F.avg(char_count(c)), 4).alias("avg_chars"),
            F.max(char_count(c)).alias("max_chars"),
        )
    )


def doc_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        fingerprint_md5(F.col(text_col)).alias("fingerprint"),
        normalize_text(F.col(text_col)).alias("norm_text"),
    ).drop("norm_text")


def repetition_columns(text: Column, max_dup_word: float,
                       max_dup_bigram: float) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 family)
    over lowercase whitespace tokens: duplicate-word fraction,
    most-frequent-word fraction, duplicate-bigram fraction, and the
    boolean ``repetition_keep`` rule (dup-word ≤ ``max_dup_word`` and
    dup-bigram ≤ ``max_dup_bigram``). All native array expressions —
    zero Python. The top-word count folds ONE pass over the sorted token
    array (longest equal-adjacent run), O(n log n) per row instead of the
    naive per-distinct filter scan (which measured ~5x slower at sf0.1)."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    n = F.size(toks)
    n_dist = F.size(F.array_distinct(toks))
    dup_word = F.round(
        F.lit(1.0) - n_dist.cast("double") / F.greatest(n, F.lit(1)), 6
    )

    def _run_step(a, x):
        run = F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(a["best"], run).alias("best"),
        )

    top_count = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        _run_step,
    )["best"]
    top_word = F.round(
        top_count.cast("double") / F.greatest(n, F.lit(1)), 6
    )
    # bigrams via zip_with against the 1-shifted array (8× faster than a
    # per-index slice+concat_ws transform); zip_with pads the shorter side
    # with null, so the trailing null pair is sliced off
    zipped = F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bigrams = F.slice(zipped, 1, F.greatest(n - 1, F.lit(0)))
    dup_bigram = F.round(
        F.when(
            n >= 2,
            F.lit(1.0)
            - F.size(F.array_distinct(bigrams)).cast("double")
            / (n - 1).cast("double"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return {
        "n_tokens": n,
        "dup_word_frac": dup_word,
        "top_word_frac": top_word,
        "dup_bigram_frac": dup_bigram,
        "repetition_keep": (
            (dup_word <= max_dup_word) & (dup_bigram <= max_dup_bigram)
        ),
    }


def repetition_signals(df: DataFrame, id_col: str, text_col: str,
                       max_dup_word: float = 0.3,
                       max_dup_bigram: float = 0.2,
                       include_gopher_quality: bool = False) -> DataFrame:
    """Per-doc ``repetition_columns`` with the keep flag as int. With
    ``include_gopher_quality`` the Gopher quality, duplicate line/paragraph
    and n-gram columns ride the same projection."""
    c = F.col(text_col)
    cols = repetition_columns(c, max_dup_word, max_dup_bigram)
    cols["repetition_keep"] = cols["repetition_keep"].cast("int")
    if include_gopher_quality:
        cols.update(gopher_quality_columns(c))
        cols.update(dup_line_columns(c))
        cols.update(gopher_ngram_columns(c))
    return df.select(F.col(id_col), *[v.alias(k) for k, v in cols.items()])


def _dup_unit_fracs(units: Column, text_len: Column) -> tuple[Column, Column]:
    """(count-based, char-based) duplicate fractions for a unit array
    (lines or paragraphs). Char fraction counts the bytes of occurrences
    BEYOND the first of each distinct value — Σlen(all) − Σlen(distinct),
    two array folds, no sort, no explode."""
    n = F.size(units)
    n_dist = F.size(F.array_distinct(units))
    count_frac = F.round(
        F.lit(1.0) - n_dist.cast("double") / F.greatest(n, F.lit(1)), 6
    )
    total = F.aggregate(
        F.transform(units, F.length), F.lit(0), lambda a, x: a + x
    )
    dist = F.aggregate(
        F.transform(F.array_distinct(units), F.length),
        F.lit(0),
        lambda a, x: a + x,
    )
    char_frac = F.round(
        (total - dist).cast("double") / F.greatest(text_len, F.lit(1)), 6
    )
    return count_frac, char_frac


_NGRAM_KEYS = [
    "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
    "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
    "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac",
]


def gopher_ngram_columns(text: Column) -> dict[str, Column]:
    """The remaining Gopher repetition signals (Rae et al. 2021 §A1.1):
    fraction of characters covered by the most frequent {2,3,4}-gram and
    by duplicated {5..10}-grams (occurrences beyond the first). Shared
    conventions with the DuckDB oracle: grams are space-joined
    lowercase whitespace tokens (RE2-class ``[\\t\\n\\f\\r ]+`` split,
    space-only trim — the _toks_sql contract); fractions are
    count×len(gram)/len(text), overlaps double-counted, half-up rounded
    to 6 dp, capped at 1.0.

    Arrow path BY MEASUREMENT, not taste: the all-native formulation (9
    gram-array folds) ran 40.4 s at sf0.1 with the Project forced out of
    whole-stage codegen — the r3 minhash cliff shape again — while this
    one Arrow pass (Counter per doc, the winnowing precedent) does the
    same work in well under a second. One UDF evaluation serves all nine
    columns (identical PythonUDF expressions dedupe into one
    ArrowEvalPython node)."""
    @F.pandas_udf("array<double>")
    def _fracs(s: pd.Series) -> pd.Series:
        import re
        from collections import Counter

        ws = re.compile(r"[\t\n\f\r ]+")

        def half_up6(x: float) -> float:
            return int(x * 1e6 + 0.5) / 1e6

        def one(t):
            if t is None:
                t = ""
            tl = max(len(t), 1)
            toks = ws.split(t.lower().strip(" "))
            T = len(toks)
            # gram identity = the token tuple; gram char length =
            # prefix-sum window + (n-1) joiner spaces — identical to
            # len(' '.join(window)) without building joined strings.
            # Counter-of-tuples beat a numpy unique(axis=0) formulation
            # 3x on this distribution (short web docs); both beat the
            # all-native expression tree 20x+ (it falls out of
            # whole-stage codegen — the r3 minhash cliff shape).
            S = [0] * (T + 1)
            for i, w in enumerate(toks):
                S[i + 1] = S[i] + len(w)
            out = []
            for n in (2, 3, 4, 5, 6, 7, 8, 9, 10):
                if T < n:
                    out.append(0.0)
                    continue
                c: Counter = Counter()
                glen: dict = {}
                for i in range(T - n + 1):
                    g = tuple(toks[i:i + n])
                    c[g] += 1
                    if g not in glen:
                        glen[g] = S[i + n] - S[i] + n - 1
                if n <= 4:
                    val = max(cnt * glen[g] for g, cnt in c.items())
                else:
                    val = sum(
                        (cnt - 1) * glen[g]
                        for g, cnt in c.items()
                        if cnt > 1
                    )
                out.append(min(half_up6(val / tl), 1.0))
            return out

        return s.apply(one)

    arr = _fracs(text)
    return {k: F.element_at(arr, i + 1) for i, k in enumerate(_NGRAM_KEYS)}


def dup_line_columns(text: Column) -> dict[str, Column]:
    """Gopher A1.1's duplicate line / paragraph fractions (Rae et al.
    2021, public), count- and character-based — the per-doc complement to
    the cross-document ``drop_common_segments`` pass. Lines split on
    '\\n', paragraphs on blank-line runs; units compare as exact bytes.
    Char fractions count duplicate occurrences beyond the first, over the
    doc's total character count. Zero UDFs, zero shuffles."""
    tl = F.length(text)
    lines = F.split(text, "\n")
    paras = F.split(text, "\n{2,}")
    lf, lcf = _dup_unit_fracs(lines, tl)
    pf, pcf = _dup_unit_fracs(paras, tl)
    return {
        "dup_line_frac": lf,
        "dup_line_char_frac": lcf,
        "dup_para_frac": pf,
        "dup_para_char_frac": pcf,
    }


# Gopher A1.1's required-stopword set (Rae et al. 2021) — presence of ≥2
# DISTINCT members gates the doc. Shared with the DuckDB oracle.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_columns(text: Column) -> dict[str, Column]:
    """The Gopher doc-QUALITY rule set (Rae et al. 2021 §A1.1, public) as
    native columns — the companion to ``repetition_signals``' Gopher
    repetition rules. Thresholds as published:

    - 50 ≤ word count ≤ 100,000; 3 ≤ mean word length ≤ 10
    - symbol-to-word ratio (# or ellipsis) ≤ 0.1
    - ≤ 90% of lines start with a bullet; ≤ 30% end with an ellipsis
    - ≥ 80% of words contain an alphabetic character
    - ≥ 2 distinct members of the 8-word required-stopword set

    Zero UDFs, zero shuffles; every predicate is in the Java-regex ↔ RE2
    common subset so the DuckDB oracle runs the same rules."""
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(words)
    nz = F.greatest(n_words, F.lit(1))
    mean_wl = F.round(
        F.length(F.regexp_replace(text, r"\s+", "")).cast("double") / nz, 6
    )
    symbol_ratio = F.round(
        F.regexp_count(text, F.lit(r"(#|…|\.\.\.)")).cast("double") / nz, 6
    )
    lines = F.split(text, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.round(
        F.size(
            F.filter(lines, lambda ln: F.trim(ln).rlike("^[•‣▪*-]"))
        ).cast("double") / n_lines,
        6,
    )
    ellipsis_frac = F.round(
        F.size(
            F.filter(lines, lambda ln: F.trim(ln).rlike(r"(…|\.\.\.)$"))
        ).cast("double") / n_lines,
        6,
    )
    alpha_frac = F.round(
        F.size(
            F.filter(words, lambda w: w.rlike("[A-Za-z]"))
        ).cast("double") / nz,
        6,
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.split(F.lower(text), r"\W+")),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    keep = (
        (n_words >= 50) & (n_words <= 100000)
        & (mean_wl >= 3.0) & (mean_wl <= 10.0)
        & (symbol_ratio <= 0.1)
        & (bullet_frac <= 0.9) & (ellipsis_frac <= 0.3)
        & (alpha_frac >= 0.8)
        & (stop_hits >= 2)
    )
    return {
        "symbol_word_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "alpha_word_frac": alpha_frac,
        "gopher_stop_hits": stop_hits,
        "gopher_quality_keep": keep.cast("int"),
    }


def gopher_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc Gopher quality audit as one codegen projection."""
    cols = gopher_quality_columns(F.col(text_col))
    return df.select(F.col(id_col), *[v.alias(k) for k, v in cols.items()])


def _worker_tokenizer(dict_path: str):
    """Per-python-worker-PROCESS tokenizer singleton keyed by the dict
    file path: with a production-size dict (10⁵-10⁶ entries) the trie
    build costs seconds and hundreds of MB — rebuilding it per TASK (the
    closure-shipped variant) multiplies that by the task count. The
    singleton is the reference's model-load pattern (SURVEY §4: one ONNX
    session per executor) applied to the dictionary; on a cluster the
    file ships once per node via ``spark-submit --files`` and every task
    on a reused worker process hits the cache."""
    from ragflow_spark.core import tokenizer as _tkmod

    cache = getattr(_tkmod, "_RS_TK_CACHE", None)
    if cache is None:
        cache = _tkmod._RS_TK_CACHE = {}
    # key includes (mtime, size): a reused worker process must not serve
    # a stale trie after the dict file is regenerated in place
    st = os.stat(dict_path)
    key = (dict_path, st.st_mtime_ns, st.st_size)
    tk = cache.get(key)
    if tk is None:
        with open(dict_path, encoding="utf-8") as f:
            tk = _tkmod.RagTokenizer(f)
        cache.clear()  # one dict at a time — bound worker memory
        cache[key] = tk
    return tk


def tokenize_column(
    df: DataFrame, id_col: str, text_col: str,
    dict_lines: list[str] | None = None, dict_path: str | None = None,
) -> DataFrame:
    """The reference's ``content_ltks`` / ``content_sm_ltks`` fields
    (rag/nlp/__init__.py:227-246 tokenize) as a distributed operator: the
    bilingual tokenizer (core/tokenizer.py) runs per doc inside an Arrow
    batch with the trie built ONCE per python worker (the reference's
    model-singleton pattern). The 'word freq tag' (huqie.txt-shaped)
    dictionary comes either as ``dict_lines`` (small fixture dicts,
    shipped in the task closure) or ``dict_path`` (production: a file
    distributed via ``spark-submit --files``, loaded once per worker
    process and cached — see ``_worker_tokenizer``). The id column keeps
    its name and (integral) type in the output, matching the other
    mapInPandas operators."""
    if (dict_lines is None) == (dict_path is None):
        raise ValueError("pass exactly one of dict_lines / dict_path")
    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, content_ltks string, content_sm_ltks string"

    def run(batches):
        import pandas as pd

        from ragflow_spark.core.tokenizer import RagTokenizer

        if dict_path is not None:
            tk = _worker_tokenizer(dict_path)
        else:
            tk = RagTokenizer(dict_lines)  # once per worker-process generator
        for pdf in batches:
            ltks = [tk.tokenize(t or "") for t in pdf[text_col]]
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "content_ltks": ltks,
                "content_sm_ltks": [tk.fine_grained_tokenize(t) for t in ltks],
            })

    return df.select(id_col, text_col).mapInPandas(run, schema=schema)


# ------------------------------------------------------- winnowing (UDF)

WINNOW_SCHEMA = "doc_id long, fingerprints array<long>"

_WINNOW_B = 1_000_003
_WINNOW_MOD = (1 << 61) - 1  # Mersenne prime → cheap vectorized mulmod


def winnow_reference(s: str, k: int = 8, window: int = 4) -> list[int]:
    """Scalar reference implementation (Schleimer et al., SIGMOD'03):
    Rabin-Karp rolling hash over k-grams, leftmost-min per sliding window,
    recorded when the min position moves. Kept as the semantics pin for the
    vectorized path below (tests assert equality)."""
    s = (s or "").lower()
    if len(s) < k:
        return []
    h = 0
    pw = pow(_WINNOW_B, k - 1, _WINNOW_MOD)
    hashes = []
    for i, ch in enumerate(s):
        h = (h * _WINNOW_B + ord(ch)) % _WINNOW_MOD
        if i >= k:
            h = (h - ord(s[i - k]) * pw * _WINNOW_B) % _WINNOW_MOD
        if i >= k - 1:
            hashes.append(h)
    out: list[int] = []
    last = -1
    for i in range(max(0, len(hashes) - window + 1)):
        w = hashes[i:i + window]
        m = min(w)
        idx = i + w.index(m)
        if idx != last:
            out.append(m)
            last = idx
    return out


def winnow_numpy(s: str, k: int = 8, window: int = 4) -> list[int]:
    """Vectorized winnowing, bit-identical to ``winnow_reference``.

    The k-gram hash is the direct form Σ_j code[m+j]·B^(k-1-j) mod M with
    M = 2^61-1; products up to 2^82 don't fit uint64, so each constant
    power is split pw = hi·2^31 + lo and the hi part's ·2^31 is reduced via
    the Mersenne identity x·2^61 ≡ x (mod M). The window minimum uses
    sliding_window_view; the "record when the leftmost-min position moves"
    rule is exactly `argmin_pos[i] != argmin_pos[i-1]` because the scalar
    loop's `last` always equals the previous window's min position."""
    import numpy as np

    s = (s or "").lower()
    n = len(s)
    if n < k:
        return []
    codes = np.frombuffer(s.encode("utf-32-le"), dtype="<u4").astype(np.uint64)
    nh = n - k + 1
    mod = np.uint64(_WINNOW_MOD)
    acc = np.zeros(nh, dtype=np.uint64)
    for j in range(k):
        pw = pow(_WINNOW_B, k - 1 - j, _WINNOW_MOD)
        pw_hi, pw_lo = pw >> 31, pw & ((1 << 31) - 1)
        c = codes[j:j + nh]
        t_lo = (c * np.uint64(pw_lo)) % mod          # < 2^52 pre-mod
        y = c * np.uint64(pw_hi)                      # < 2^51
        # y·2^31 mod M: y = y_hi·2^30 + y_lo → y_hi·2^61 + y_lo·2^31
        #             ≡ y_hi + y_lo·2^31 (mod M), both addends < 2^61
        t_hi = ((y >> np.uint64(30))
                + ((y & np.uint64((1 << 30) - 1)) << np.uint64(31))) % mod
        acc = (acc + t_lo + t_hi) % mod
    if nh < window:
        return []
    win = np.lib.stride_tricks.sliding_window_view(acc, window)
    mins = win.min(axis=1)
    argpos = win.argmin(axis=1) + np.arange(len(mins))
    mask = np.empty(len(mins), dtype=bool)
    mask[0] = True
    mask[1:] = argpos[1:] != argpos[:-1]
    return mins[mask].astype(np.int64).tolist()


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints over an Arrow-batched mapInPandas
    (per-doc work is a handful of numpy passes; the cross-doc axis is the
    distributed one)."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "fingerprints": [winnow_numpy(t, k, window) for t in pdf[text_col]],
            })

    return df.select(id_col, text_col).mapInPandas(run, schema=WINNOW_SCHEMA)
