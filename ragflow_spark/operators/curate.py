"""Document curation: the composed keep/drop decision a training-data
pipeline runs before tokenization — C4-style quality gates (Raffel et al.
2020 §2.2), Gopher repetition filters (Rae et al. 2021 §A1.1), stopword
language ID, and exact-duplicate demotion — in ONE declarative pass plus
one dedup shuffle, with an auditable ``drop_reason`` per document.

Plan shape at 100 TB: every signal is a native Catalyst expression over
the text column (no UDF, single projection, whole-stage codegen); the only
exchange is the fingerprint window for duplicate demotion — the same
single 16-byte-key shuffle exact dedup costs. Filters compose with the
scan (predicate pushdown applies to any pre-filter on the input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ragflow_spark.functions.text import fingerprint_md5
from ragflow_spark.operators.pii import pii_total
from ragflow_spark.operators.textstats import (
    c4_line_columns,
    gopher_quality_columns,
    lang_columns,
    quality_columns,
    repetition_columns,
)


def curate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 5,
    max_tokens: int = 50_000,
    allowed_langs: tuple[str, ...] | None = None,
    max_dup_word: float = 0.3,
    max_dup_bigram: float = 0.2,
    gopher_quality: bool = False,
    c4_page_rules: bool = False,
    url_col: str | None = None,
    url_fail_milli: int = 1000,
) -> DataFrame:
    """One row per document: language, token count, per-family keep flags,
    the composed ``keep`` bit and the FIRST failing rule as ``drop_reason``
    (precedence: [bad_url →] too_short → too_long → bad_lang →
    low_quality → repetitive → [gopher_quality → c4_page] → duplicate;
    duplicates keep their min-id representative, matching
    ``exact_dedup_groups``).

    ``url_col`` opts the RefinedWeb-style URL word-score gate
    (weburl.url_quality_columns) into the same projection as the FIRST
    rule — URL filtering precedes every content rule in the published
    pipelines because it needs zero content bytes; the output then also
    carries ``url_keep``.

    ``gopher_quality`` / ``c4_page_rules`` opt the full published rule
    sets (textstats.gopher_quality_columns / c4_line_columns) into the
    same projection — more per-row expression work, still zero extra
    shuffles; their standalone oracles gate the rules bit-exactly via
    doc_repetition / doc_quality."""
    c = F.col(text_col)
    # the standalone operators' builders (lang_id / quality_features /
    # repetition_signals): one definition per signal
    quality = quality_columns(c)
    repetition = repetition_columns(c, max_dup_word, max_dup_bigram)

    url_keep_col = []
    if url_col is not None:
        from ragflow_spark.operators.weburl import (
            host_of,
            url_quality_columns,
            url_words,
        )

        # stage the word array / host once per row (url_words docstring:
        # the lambda-filter is outside codegen, so an inlined copy would
        # re-split the URL per bank word; CollapseProject keeps a
        # non-cheap multi-referenced stage)
        df = df.withColumns({
            "_uwords": url_words(F.col(url_col)),
            "_uhost": host_of(F.col(url_col)),
        })
        uq = url_quality_columns(
            F.col(url_col), fail_milli=url_fail_milli,
            words=F.col("_uwords"), host=F.col("_uhost"),
        )
        url_keep_col = [uq["url_keep"].cast("boolean").alias("_uk")]

    staged = df.select(
        F.col(id_col),
        quality["n_tokens"].alias("n_tokens"),
        lang_columns(c)["pred_lang"].alias("pred_lang"),
        *url_keep_col,
        quality["quality_keep"].alias("_qk"),
        repetition["repetition_keep"].alias("_rk"),
        # auditable PII volume (r7): counts only, masking is a separate
        # pii_scrub pass — curation reports how much redaction the kept
        # set would need, it does not mutate text
        pii_total(c).alias("pii_hits"),
        fingerprint_md5(c).alias("_fp"),
        *(
            [gopher_quality_columns(c)["gopher_quality_keep"]
             .cast("boolean").alias("_gk")]
            if gopher_quality else []
        ),
        *(
            [c4_line_columns(c)["c4_page_keep"]
             .cast("boolean").alias("_ck")]
            if c4_page_rules else []
        ),
    )
    # duplicate demotion: min id per fingerprint keeps, the rest drop —
    # the one exchange in the plan (16-byte key, map-side combinable)
    w = Window.partitionBy("_fp")
    staged = staged.withColumn(
        "_is_dup", F.col(id_col) != F.min(id_col).over(w)
    )

    bad_lang = (
        ~F.col("pred_lang").isin(*allowed_langs)
        if allowed_langs
        else F.lit(False)
    )
    reason = F.when(F.lit(False), "never")
    if url_col is not None:
        reason = reason.when(~F.col("_uk"), "bad_url")
    reason = (
        reason
        .when(F.col("n_tokens") < min_tokens, "too_short")
        .when(F.col("n_tokens") > max_tokens, "too_long")
        .when(bad_lang, "bad_lang")
        .when(~F.col("_qk"), "low_quality")
        .when(~F.col("_rk"), "repetitive")
    )
    if gopher_quality:
        reason = reason.when(~F.col("_gk"), "gopher_quality")
    if c4_page_rules:
        reason = reason.when(~F.col("_ck"), "c4_page")
    reason = reason.when(F.col("_is_dup"), "duplicate")
    return staged.select(
        F.col(id_col),
        "pred_lang",
        "n_tokens",
        *(
            [F.col("_uk").cast("int").alias("url_keep")]
            if url_col is not None else []
        ),
        F.col("_qk").cast("int").alias("quality_keep"),
        F.col("_rk").cast("int").alias("repetition_keep"),
        "pii_hits",
        F.col("_is_dup").cast("int").alias("is_dup"),
        reason.isNull().cast("int").alias("keep"),
        reason.alias("drop_reason"),
    )


def curation_summary(flags: DataFrame) -> DataFrame:
    """Aggregate audit: docs and tokens kept/dropped per reason — the
    'what did the pipeline throw away' table every curation run reports."""
    return (
        flags.groupBy(F.coalesce("drop_reason", F.lit("kept")).alias("outcome"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
