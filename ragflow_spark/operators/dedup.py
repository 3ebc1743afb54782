"""Deduplication operator family for training-data pipelines.

All variants are DataFrame-native (the LSH family uses only md5/array
higher-order functions, so results are engine-portable and DuckDB-checkable).
Scale notes per operator are in each docstring — these run as
shuffle-on-key jobs with no driver state, sized for 10^9+ docs.

- exact:     hash-groupBy on normalized text (1 shuffle)
- minhash:   shingle → K md5-minima → B band keys → explode + self-join on
             band (candidate pairs ∝ true dups, not n²) → exact Jaccard
             verify on the pair
- simhash:   64-bit sign-aggregated fingerprint, candidates via 4×16-bit
             chunk banding, hamming ≤ d verify (bit_count is native)
- ngram:     exact n-gram Jaccard within a blocking group (for modest
             group sizes; the honest O(g²) baseline the LSH variants beat)
- embedding: cosine ≥ τ pairs within a blocking group over array<float>
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ragflow_spark.functions.text import (
    MINHASH_MOD,
    fingerprint_md5,
    word_shingles,
)
from ragflow_spark.functions.vectors import cosine, dot, norm

# default hot-band cap for the LSH pair joins (minhash + simhash). A band
# key shared by k docs emits k² candidate pairs; above this cap the band is
# dropped. Default-ON because an unguarded band join is the one thing that
# turns these from O(n) into O(n²) on a real crawl; callers can pass None
# to disable for small audits.
#
# RECALL CAVEAT (audit before relying on the cap): dropping a hot band
# loses MORE than identical content. A pair of genuinely near-duplicate,
# non-identical docs whose only shared bands happen to be hot (e.g. both
# docs are mostly shared boilerplate plus a small distinct tail) is
# silently missed — exact dedup only covers the byte-identical subset.
# Both LSH operators therefore attach the number of dropped hot bands to
# their result (`_rs_dropped_bands`, read it via ``dropped_band_count``)
# so callers can audit the loss instead of trusting it is zero.
DEFAULT_MAX_BAND_SIZE = 1024


def dropped_band_count(df: DataFrame) -> int:
    """Number of distinct hot bands the guard dropped while building this
    pair DataFrame (0 when the guard was off). Lazy: the hot-band set is a
    persisted intermediate of the pair job, so counting it after the main
    action reads the cache — no second pass over the corpus."""
    hot = getattr(df, "_rs_hot_bands", None)
    return 0 if hot is None else hot.count()


def release(df: DataFrame) -> None:
    """Unpersist any cached intermediates a dedup operator attached to its
    result (``_rs_cached``). Call after the consuming action in long-lived
    sessions; harmless no-op otherwise."""
    for handle in getattr(df, "_rs_cached", []):
        try:
            handle.unpersist()
        except Exception:
            pass


# ------------------------------------------------------------------ exact

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized text: keeper id (min), dup count.
    At 100 TB this is the cheapest pass: one shuffle on a 16-byte key with
    map-side partial aggregation."""
    return (
        df.select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per duplicate group (the min-id row)."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def keep_best(
    members: DataFrame,
    cluster_col: str,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware canonical-representative selection: per cluster
    keep the member with the HIGHEST score, ties broken by ascending
    numeric id — the RefinedWeb/CCNet keep-one-representative policy,
    vs the min-id convention of ``exact_dedup``/``dup_clusters`` (which
    is cheaper but keeps an arbitrary member). Works over any cluster
    assignment: exact fp groups, ``dup_clusters`` components, LSH
    buckets.

    Returns (cluster, keep_id, n_members, best_score). ONE groupBy on
    the cluster key — max_by over a (score, -id) struct, so there is no
    window, no second shuffle, and map-side partial aggregation applies.
    """
    return members.groupBy(cluster_col).agg(
        F.max_by(
            F.col(id_col),
            F.struct(
                F.col(score_col).alias("s"),
                (-F.col(id_col)).alias("neg_id"),
            ),
        ).alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.max(score_col).alias("best_score"),
    )


# ---------------------------------------------------------------- minhash

import re as _re

_JAVA_WS = _re.compile(r"[ \t\n\x0b\f\r]+")


def _java_ws_tokens(text: str) -> list[str]:
    """Mirror of ``ws_tokens``'s JVM semantics: F.trim strips SPACES only
    (not tabs/newlines), and Java split with limit -1 keeps empty edge
    tokens (Java \\s is ASCII-only, unlike Python's str.split)."""
    return _JAVA_WS.split(text.strip(" "))


def minhash_base_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
) -> DataFrame:
    """(_id, _sh, _sig, _bands) in ONE Arrow pass — bit-identical to the
    native ``minhash_signature``/``lsh_bands`` expressions (hashlib.md5 ==
    F.md5 on utf-8 bytes; identical Carter-Wegman mod-2^32 arithmetic; the
    DuckDB oracle stays exact) but vectorized in numpy.

    Why it exists: the native expression tree (md5 + transform + aggregate
    over k minima) exceeds whole-stage-codegen limits and Spark falls back
    to INTERPRETED per-row eval (`StringSplit.nullSafeEval` in executor
    stacks) — measured ~10× slower per doc at the 1M-doc smoke than the
    131k run extrapolates. The Arrow path is the only path of
    ``minhash_pairs``; the expression path remains the oracle-checked
    reference implementation (doc_minhash_sig/bands queries), and
    tests/test_scale_guards.py pins the two equal."""
    import hashlib

    import numpy as np
    import pandas as pd

    rows = num_hashes // bands
    id_type = dict(df.dtypes)[id_col]
    mod = np.uint64(MINHASH_MOD)
    idx = np.arange(num_hashes, dtype=np.uint64)

    def run(batches):
        for pdf in batches:
            ids, shs, sigs, bnds = [], [], [], []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                # exact ws_tokens semantics: F.trim strips 0x20 only and
                # Java split(\s+, -1) keeps empty edge tokens
                toks = _java_ws_tokens(text or "")
                if len(toks) >= shingle_n:
                    # dict preserves first-occurrence order like
                    # F.array_distinct
                    sh = list(dict.fromkeys(
                        " ".join(toks[i:i + shingle_n])
                        for i in range(len(toks) - shingle_n + 1)
                    ))
                else:
                    sh = [" ".join(toks)]
                a = np.empty(len(sh), dtype=np.uint64)
                b = np.empty(len(sh), dtype=np.uint64)
                for k, s in enumerate(sh):
                    d = hashlib.md5(s.encode("utf-8")).hexdigest()
                    a[k] = int(d[:8], 16)
                    b[k] = int(d[8:16], 16)
                h = (a[:, None] + idx[None, :] * b[:, None]) % mod
                sig = h.min(axis=0).astype(np.int64)
                band_keys = [
                    hashlib.md5(
                        (str(bi) + "|" + ",".join(
                            str(int(v))
                            for v in sig[bi * rows:(bi + 1) * rows]
                        )).encode("utf-8")
                    ).hexdigest()
                    for bi in range(bands)
                ]
                ids.append(_id)
                shs.append(sh)
                sigs.append(sig.tolist())
                bnds.append(band_keys)
            yield pd.DataFrame({
                "_id": ids, "_sh": shs, "_sig": sigs, "_bands": bnds,
            })

    return df.select(
        F.col(id_col), F.col(text_col)
    ).mapInPandas(
        run,
        schema=(f"_id {id_type}, _sh array<string>, _sig array<bigint>, "
                "_bands array<string>"),
    )


def minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    max_band_size: int | None = DEFAULT_MAX_BAND_SIZE,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b) whose shingle-set Jaccard ≥ threshold,
    found via minhash-LSH banding.

    Scale: the self-join is on the band key with id-only rows, so shuffle
    volume is O(n·bands) plus O(candidates); shingle arrays are re-attached
    only to surviving candidates. A band shared by k docs yields k²
    candidates — ``max_band_size`` drops such degenerate bands (identical
    boilerplate belongs to exact dedup)."""
    # the signature table feeds three consumers (both band-join sides +
    # the verify re-attach); without persist the shingle/minhash pass
    # runs 3-4×. MEMORY_AND_DISK spills cleanly; on a 100 TB run you
    # would materialize this as its own parquet/Iceberg signature table
    # (one write, reread by key) instead of an executor cache.
    base = minhash_base_arrow(df, id_col, text_col, num_hashes, shingle_n,
                              bands).persist()
    # candidate generation on (id, band) ONLY — the shingle arrays must not
    # ride through the k² band join (they dominate shuffle bytes otherwise)
    band_rows = base.select("_id", F.explode("_bands").alias("_band"))
    hot = None
    if max_band_size is not None:
        # hot-band guard: a band shared by k docs emits k² candidates; bands
        # over the cap are boilerplate-degenerate (at web scale: navigation
        # chrome, legal footers) and are dropped. See DEFAULT_MAX_BAND_SIZE
        # for the recall caveat; the drop set is persisted and surfaced on
        # the result for auditing via ``dropped_band_count``.
        hot = (
            band_rows.groupBy("_band")
            .count()
            .filter(F.col("count") > max_band_size)
            .select("_band")
            .persist()
        )
        band_rows = band_rows.join(F.broadcast(hot), "_band", "left_anti")
    cand = (
        band_rows.alias("a")
        .join(band_rows.alias("b"), on="_band")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify: re-attach shingles to the (much smaller) candidate set
    sh = base.select("_id", "_sh")
    pairs = (
        cand.join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    # shingle arrays are array_distinct'ed sets: |A∪B| = |A|+|B|-|A∩B|
    # exactly, so arithmetic replaces the second per-pair set build
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    out = (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    out._rs_cached = [base]  # caller releases via dedup.release(out)
    if hot is not None:
        out._rs_hot_bands = hot
        out._rs_cached.append(hot)
    return out


# ------------------- incremental dedup (new batch vs a historical store)

def exact_hash_store(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The persistable exact-dedup store: (doc_id, fp) with the same
    normalized-md5 fingerprint as ``exact_dedup_groups``. At 100 TB this
    is what each crawl snapshot appends to a parquet/Iceberg table
    (bucketed by fp) so the next increment never rereads historical
    text — 24 bytes/doc instead of the corpus."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        fingerprint_md5(F.col(text_col)).alias("fp"),
    )


def incremental_exact_dups(
    new_docs: DataFrame, store: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """NEW-batch docs whose text already exists in the historical store:
    (id_new, fp, id_hist) with id_hist the min historical id per
    fingerprint. Inner join — a new doc with no historical twin emits
    nothing; in-batch duplicates are ``exact_dedup_groups``' job (run
    both per increment, then append ``exact_hash_store(new_docs)`` minus
    the hits to the store).

    Scale shape: the store is first semi-joined down to the fingerprints
    the increment actually touches, so the min-id groupBy runs over
    O(matches) rows, not O(history); with the store bucketed by fp on
    disk the probe is a co-located hash join and nothing O(history)
    shuffles. Cost per increment: O(increment + matched groups)."""
    new_fp = exact_hash_store(new_docs, id_col, text_col).select(
        F.col("doc_id").alias("id_new"), "fp"
    )
    hist = (
        store.join(new_fp.select("fp").dropDuplicates(), "fp", "left_semi")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("id_hist"))
    )
    return new_fp.join(hist, "fp").select("id_new", "fp", "id_hist")


def minhash_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
) -> DataFrame:
    """The persistable near-dup signature store: (doc_id, sig, bands),
    bit-identical to the arithmetic ``minhash_pairs`` uses (arrow path ==
    expression path == DuckDB oracle). Shingle arrays are deliberately
    NOT stored — they dominate bytes (the text itself, re-cut) and exist
    only to true-Jaccard-verify; cross-snapshot verification uses the
    minhash estimate instead (see ``incremental_minhash_pairs``). On a
    100 TB run this table is written once per snapshot, bucketed by band
    key, and every later increment probes it co-located."""
    base = minhash_base_arrow(
        df, id_col, text_col, num_hashes, shingle_n, bands
    )
    return base.select(
        F.col("_id").alias("doc_id"),
        F.col("_sig").alias("sig"),
        F.col("_bands").alias("bands"),
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    est_threshold: float = 0.5,
    max_band_size: int | None = DEFAULT_MAX_BAND_SIZE,
) -> DataFrame:
    """Near-dup pairs BETWEEN a new batch and the historical signature
    store — (id_new, id_hist, est_jaccard) — at O(increment + matches)
    cost, never O(history). The incremental counterpart of
    ``minhash_pairs``: a daily crawl increment dedups against years of
    corpus without re-mining (or even rereading) it.

    Plan shape: the store's band rows are semi-joined down to the band
    keys the increment touches BEFORE any count or pair join (AQE turns
    that probe broadcast when the increment is small); the hot-band
    guard then counts only MATCHED history buckets, so the guard itself
    stays O(matches). Candidates join on the band key id-only, exactly
    like minhash_pairs.

    Verification: the store carries no shingles, so pairs are scored
    with the standard unbiased minhash estimate — the fraction of
    agreeing signature components, E[est] = true Jaccard. At the default
    num_hashes=16 the estimate's granularity is 1/16: near the threshold
    it is noisier than minhash_pairs' exact verify (raise num_hashes in
    the store to tighten). In-batch duplicates are ``minhash_pairs``'
    job (text in hand → exact verify); run both per increment, then
    append ``minhash_store(new_docs)`` rows for the kept docs."""
    new_base = minhash_store(
        new_docs, id_col, text_col, num_hashes, shingle_n, bands
    ).persist()
    nb = new_base.select(
        F.col("doc_id").alias("id_new"), F.explode("bands").alias("_band")
    )
    hb = store.select(
        F.col("doc_id").alias("id_hist"), F.explode("bands").alias("_band")
    ).join(nb.select("_band").dropDuplicates(), "_band", "left_semi")
    hot = None
    if max_band_size is not None:
        hot = (
            hb.groupBy("_band")
            .count()
            .filter(F.col("count") > max_band_size)
            .select("_band")
            .persist()
        )
        hb = hb.join(F.broadcast(hot), "_band", "left_anti")
    cand = (
        nb.join(hb, "_band")
        .select("id_new", "id_hist")
        .dropDuplicates(["id_new", "id_hist"])
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_n", "sig_h", lambda a, b: a == b),
                lambda v: v,
            )
        ).cast("double")
        / F.lit(float(num_hashes)),
        6,
    )
    out = (
        cand.join(
            new_base.select(
                F.col("doc_id").alias("id_new"), F.col("sig").alias("sig_n")
            ),
            "id_new",
        )
        .join(
            store.select(
                F.col("doc_id").alias("id_hist"), F.col("sig").alias("sig_h")
            ),
            "id_hist",
        )
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_new", "id_hist", "est_jaccard")
    )
    cached = [new_base]
    if hot is not None:
        out._rs_hot_bands = hot
        cached.append(hot)
    out._rs_cached = cached  # caller releases via dedup.release(out)
    return out


# ---------------------------------------------------------------- simhash

def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash, fully native: per token take 16 hex chars of md5 as
    a 64-bit integer; for each bit, majority vote weighted ±1 across
    tokens; pack sign bits. aggregate() keeps the 64 counters in an
    array<int> accumulator — one pass, no UDF."""
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    # two 32-bit halves from the md5 hex (conv() on full 64-bit hex would
    # overflow LongType for values with the top bit set)
    half1 = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"))
    half2 = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long"))

    def pack(half_col):
        # (h >> b) & 1 spelled as floor(h / 2^b) % 2 because shiftright()
        # requires a literal shift amount; 2^b ≤ 2^31 and h < 2^32 are both
        # exact in doubles
        def bit(h, b):
            return F.pmod(
                F.floor(h / F.pow(F.lit(2.0), b.cast("double"))).cast("long"),
                F.lit(2),
            )

        cnt = F.aggregate(
            half_col,
            F.array_repeat(F.lit(0), 32),
            lambda acc, h: F.zip_with(
                acc,
                F.sequence(F.lit(0), F.lit(31)),
                lambda c, b: c + F.when(bit(h, b) == 1, 1).otherwise(-1),
            ),
        )
        return F.aggregate(
            F.zip_with(
                cnt,
                F.sequence(F.lit(0), F.lit(31)),
                lambda c, b: F.when(
                    c > 0, F.pow(F.lit(2.0), b.cast("double")).cast("long")
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    return df.select(
        F.col(id_col),
        pack(half1).alias("simhash_hi"),
        pack(half2).alias("simhash_lo"),
    )


def simhash64_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Vectorized twin of :func:`simhash64` — identical tokens (distinct of
    lower/trim/whitespace-split), identical md5-derived halves and ±1 bit
    votes, packed with numpy instead of the interpreted aggregate tree
    (same codegen-fallback story as minhash_base_arrow)."""
    import hashlib

    import numpy as np
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    bits = np.arange(32, dtype=np.uint64)
    pows = (np.uint64(1) << bits).astype(np.int64)

    def run(batches):
        for pdf in batches:
            ids, hi, lo = [], [], []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                toks = list(dict.fromkeys(
                    _java_ws_tokens((text or "").lower())
                ))
                h1 = np.empty(len(toks), dtype=np.uint64)
                h2 = np.empty(len(toks), dtype=np.uint64)
                for k, t in enumerate(toks):
                    d = hashlib.md5(t.encode("utf-8")).hexdigest()
                    h1[k] = int(d[:8], 16)
                    h2[k] = int(d[8:16], 16)

                def pack(h):
                    b = ((h[:, None] >> bits[None, :]) & np.uint64(1)
                         ).astype(np.int64)
                    vote = (2 * b - 1).sum(axis=0)
                    return int(pows[vote > 0].sum())

                ids.append(_id)
                hi.append(pack(h1))
                lo.append(pack(h2))
            yield pd.DataFrame({
                id_col: ids, "simhash_hi": hi, "simhash_lo": lo,
            })

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        run, schema=f"{id_col} {id_type}, simhash_hi long, simhash_lo long"
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    max_band_size: int | None = DEFAULT_MAX_BAND_SIZE,
) -> DataFrame:
    """Candidate pairs via 16-bit chunk banding over the 64-bit simhash
    (pigeonhole: hamming ≤ 6 over 4 chunks → some chunk differs ≤1; we use
    exact-chunk-match banding which catches hamming ≤ 3 guaranteed and most
    ≤ 6), then exact hamming verify with native bit_count.

    Scale: a raw 16-bit chunk value collects ~n/65536 docs at web scale, so
    the band self-join is k²-degenerate without the same hot-band guard
    minhash_pairs uses — ``max_band_size`` (default-on) anti-joins those
    chunks away; identical docs are exact dedup's job. The simhash table is
    persisted (three consumers: both join sides + the guard) — without it
    the per-token simhash pass runs 3×; release via ``release()``."""
    sh = simhash64_arrow(df, id_col, text_col).persist()
    chunks = sh.select(
        F.col(id_col).alias("_id"), "simhash_hi", "simhash_lo",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":", F.lit(str(i)),
                        F.shiftright(F.col(c), s).bitwiseAND(F.lit(0xFFFF)).cast("string"),
                    )
                    for i, (c, s) in enumerate(
                        [("simhash_hi", 0), ("simhash_hi", 16),
                         ("simhash_lo", 0), ("simhash_lo", 16)]
                    )
                ]
            )
        ).alias("_chunk"),
    )
    hot = None
    if max_band_size is not None:
        # same recall caveat as minhash_pairs (see DEFAULT_MAX_BAND_SIZE):
        # near-dup pairs whose only shared chunks are hot are missed; the
        # drop set is surfaced for auditing via ``dropped_band_count``.
        hot = (
            chunks.groupBy("_chunk")
            .count()
            .filter(F.col("count") > max_band_size)
            .select("_chunk")
            .persist()
        )
        chunks = chunks.join(F.broadcast(hot), "_chunk", "left_anti")
    a = chunks.select(
        F.col("_id").alias("id_a"),
        F.col("simhash_hi").alias("hi_a"), F.col("simhash_lo").alias("lo_a"),
        "_chunk",
    )
    b = chunks.select(
        F.col("_id").alias("id_b"),
        F.col("simhash_hi").alias("hi_b"), F.col("simhash_lo").alias("lo_b"),
        "_chunk",
    )
    ham = (
        F.expr("bit_count(hi_a ^ hi_b)") + F.expr("bit_count(lo_a ^ lo_b)")
    )
    out = (
        a.join(b, on="_chunk")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    out._rs_cached = [sh]  # caller releases via dedup.release(out)
    if hot is not None:
        out._rs_hot_bands = hot
        out._rs_cached.append(hot)
    return out


# ------------------------------------------------------------ ngram exact

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    method: str = "matmul",
) -> DataFrame:
    """Exact pairwise Jaccard within a blocking group.

    ``method="matmul"`` (default, r8) generates candidate pairs per group
    with one dense numpy intersection-count matmul (see
    :func:`_ngram_jaccard_matmul`), then runs the SAME exact verify
    predicate on the candidates — lossless, so the output is identical.
    ``method="prefix"`` is the AllPairs/PPJoin prefix filter before the
    exact verify — see :func:`_ngram_jaccard_prefix`; it stays the
    unbounded-scale path (every stage linear in tokens, no per-group
    dense state), and the right choice when token frequencies are
    Zipfian (real web shingles) so prefixes rarely collide. The matmul
    path exists because a DENSE token universe (small vocab, CJK char
    shingles — the r8 bench corpus is vocab-31) makes every prefix
    bucket hold most of the group: the bucket self-join emits Σk² ≈ g²
    candidate rows through a shuffle+dedup, where BLAS does the same
    Σk² multiply-adds in-core at memory bandwidth (sf1.0 measured:
    92.4 s → 5.0 s, same rows). ``method="exact"``
    keeps the direct O(g²) self-join below: fewest stages, right when
    groups are tiny.
    All methods return identical pairs (same verify predicate), so the
    DuckDB oracle and goldens hold for any of them.

    O(g²) baseline notes (method="exact"):
    Use only when groups are bounded (e.g. same host); at web scale prefer
    minhash_pairs or method="prefix".

    Plan shape: ONE self-join on the group key (shuffle volume is the n
    input rows per side — the g² blowup is streamed join output, never
    shuffled). All pair predicates go into a SINGLE conjunction ordered
    cheap→expensive, because Catalyst pushes them into the join condition
    in chained-filter order REVERSED (CombineFilters prepends): chaining
    .filter(id<).filter(jaccard) puts the O(L) jaccard set ops FIRST and
    evaluates them on every ordered pair — measured 40% slower at sf0.1.
    With the explicit order below, id_a<id_b halves the pairs and the exact
    size prune (jaccard = |∩|/|∪| ≤ min/max sizes) drops unreachable ones
    before any intersect/union runs."""
    sh = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), shingle_n).alias("_sh"),
    ).withColumn("_n", F.size("_sh")).persist()  # see release()
    if method == "matmul":
        return _ngram_jaccard_matmul(sh, group_col, threshold)
    if method == "prefix":
        return _ngram_jaccard_prefix(sh, group_col, threshold)
    if method != "exact":
        raise ValueError(f"unknown method: {method!r}")
    a = sh.select(
        F.col("_g"), F.col("_id").alias("id_a"),
        F.col("_sh").alias("sh_a"), F.col("_n").alias("n_a"),
    )
    b = sh.select(
        F.col("_g"), F.col("_id").alias("id_b"),
        F.col("_sh").alias("sh_b"), F.col("_n").alias("n_b"),
    )
    out = (
        a.join(b, on="_g")
        .filter(_jaccard_verify_cond(threshold))
        .select(
            F.col("_g").alias(group_col), "id_a", "id_b",
            _jaccard_value().alias("jaccard"),
        )
    )
    out._rs_cached = [sh]  # caller releases via dedup.release(out)
    return out


def _jaccard_value():
    """round(|∩|/|∪|, 6) over (sh_a, n_a, sh_b, n_b) pair columns. The
    shingle arrays are array_distinct'ed sets, so |A∪B| = |A|+|B|-|A∩B|
    exactly — the sizes are already materialized as n_a/n_b and the second
    per-pair set build (array_union) becomes two column adds
    (same-session A/B at sf0.1 local[32]: 10.24 s → 8.63 s median)."""
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.col("n_a") + F.col("n_b")).cast("double") - inter
    return F.round(inter / union, 6)


def _jaccard_verify_cond(threshold: float):
    """The ONE exact pair predicate both methods share, as a single
    conjunction ordered cheap→expensive: Catalyst pushes chained filters
    into the join condition in REVERSED order (CombineFilters prepends),
    so chaining .filter(id<).filter(jaccard) puts the O(L) jaccard set ops
    FIRST and evaluates them on every ordered pair — measured 40% slower
    at sf0.1. Here id_a<id_b halves the pairs and the exact size prune
    (jaccard ≤ min/max sizes) drops unreachable ones before any intersect
    runs."""
    return (
        (F.col("id_a") < F.col("id_b"))
        & (
            F.least("n_a", "n_b").cast("double")
            >= F.lit(threshold) * F.greatest("n_a", "n_b").cast("double")
        )
        & (_jaccard_value() >= threshold)
    )


def _ngram_jaccard_matmul(sh: DataFrame, group_col: str,
                          threshold: float) -> DataFrame:
    """Per-group dense intersection-count candidate generation + the
    shared exact verify (lossless, like the prefix path — pinned by
    test_ngram_prefix_filter_lossless).

    Candidate stage: one applyInPandas task per group builds the binary
    doc×token matrix A and computes every pairwise intersection count as
    C = A·Aᵀ — counts are EXACT integers (0/1 sums in float32, exact up
    to 2²⁴), identical to ``size(array_intersect(sh_a, sh_b))`` because
    both count the distinct shared tokens of two array_distinct'ed sets
    (pinned by test_ngram_prefix_filter_lossless's three-way A/B).
    ``inter/union ≥ t − 1e-6`` keeps every pair the verify could accept
    (round-half-up at 6 dp can lift a value by at most 5e-7).

    Verify stage: each candidate leaves Python as (id_a, id_b, n_a, n_b,
    inter) integer rows, and the jaccard value + threshold decision are
    computed by the IDENTICAL Catalyst expression sequence the other
    methods use (`_jaccard_value` over exact ints: int-sum → cast-double
    → subtract → divide → round-half-up), so values — and the oracle
    hash — cannot move. No pair-side join, no per-pair set ops: on a
    dense token universe where every prefix bucket holds most of the
    group (the r8 bench corpus is vocab-31), this replaces the Σk² ≈ g²
    candidate shuffle + array_intersect verify with one BLAS pass
    (sf1.0 measured: 92.4 s → 5.0 s, same rows).

    Memory envelope per group task: g·V float32 for A (vocab-chunked
    above ~2²⁸ cells) plus a B·g float32 slab for the C row-block —
    ~100 MB at g=2500/V=40k. This is the exact-baseline operator for
    modest blocked groups (docstring above); at unbounded group sizes
    use method="prefix" or minhash_pairs."""
    import numpy as np
    import pandas as pd

    types = dict(sh.dtypes)
    margin = 1e-6          # > round-6 half-up step (5e-7) + FP div error
    row_block = 2048       # C slab rows: bounds peak memory at B·g
    cell_budget = 1 << 28  # dense A cells before vocab chunking kicks in
    empty = pd.DataFrame({
        "_g": [], "id_a": [], "id_b": [],
        "n_a": [], "n_b": [], "inter": [],
    })

    def per_group(pdf: pd.DataFrame):
        pdf = pdf[pdf["_sh"].notna()].sort_values("_id")
        g = len(pdf)
        if g < 2:
            return empty
        ids = pdf["_id"].to_numpy()
        n = pdf["_n"].to_numpy(dtype=np.int64)
        vocab: dict[str, int] = {}
        doc_idx, tok_idx = [], []
        for i, toks in enumerate(pdf["_sh"]):
            for t in toks:
                j = vocab.setdefault(t, len(vocab))
                doc_idx.append(i)
                tok_idx.append(j)
        V = len(vocab)
        assert V < (1 << 24), "token universe too large for exact f32 counts"
        di = np.asarray(doc_idx, dtype=np.int64)
        ti = np.asarray(tok_idx, dtype=np.int64)
        chunk = V if g * V <= cell_budget else max(1, cell_budget // g)
        parts = []
        gval = pdf["_g"].iloc[0]
        for b0 in range(0, g, row_block):
            b1 = min(b0 + row_block, g)
            C = np.zeros((b1 - b0, g), dtype=np.float32)
            for c0 in range(0, V, chunk):
                c1 = min(c0 + chunk, V)
                m = (ti >= c0) & (ti < c1)
                A = np.zeros((g, c1 - c0), dtype=np.float32)
                A[di[m], ti[m] - c0] = 1.0
                C += A[b0:b1] @ A.T
            inter = C.astype(np.float64)
            union = n[b0:b1, None] + n[None, :] - inter
            cand = inter >= (threshold - margin) * union
            # keep only i < j (ids ascending): mask the lower triangle
            cand &= np.arange(g)[None, :] > np.arange(b0, b1)[:, None]
            ii, jj = np.nonzero(cand)
            parts.append(pd.DataFrame({
                "_g": np.repeat(gval, len(ii)),
                "id_a": ids[ii + b0], "id_b": ids[jj],
                "n_a": n[ii + b0], "n_b": n[jj],
                "inter": inter[ii, jj].astype(np.int64),
            }))
        return pd.concat(parts) if parts else empty

    cand = sh.groupBy("_g").applyInPandas(
        per_group,
        schema=(f"_g {types['_g']}, id_a {types['_id']}, "
                f"id_b {types['_id']}, n_a int, n_b int, inter int"),
    )
    # the exact-int twin of _jaccard_value()/_jaccard_verify_cond: same
    # arithmetic sequence over the same exact integers
    inter = F.col("inter").cast("double")
    union = (F.col("n_a") + F.col("n_b")).cast("double") - inter
    jac = F.round(inter / union, 6)
    out = (
        cand.filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.least("n_a", "n_b").cast("double")
               >= F.lit(threshold) * F.greatest("n_a", "n_b").cast("double"))
            & (jac >= threshold)
        )
        .select(
            F.col("_g").alias(group_col), "id_a", "id_b",
            jac.alias("jaccard"),
        )
    )
    out._rs_cached = [sh]  # caller releases via dedup.release(out)
    return out


def _ngram_jaccard_prefix(sh: DataFrame, group_col: str,
                          threshold: float) -> DataFrame:
    """Prefix-filtered exact Jaccard join (the AllPairs/PPJoin family,
    Bayardo et al. WWW'07 / Xiao et al. WWW'08 — public algorithms): under
    ANY one total order of the token universe, J(A,B) ≥ t implies the
    first |A| − ⌈t·|A|⌉ + 1 tokens of A (its "prefix") intersect B's
    prefix — if all ≥ ⌈t·|A|⌉ intersection tokens sat in A's last
    ⌈t·|A|⌉ − 1 positions, there would be too few slots. So only pairs
    sharing a PREFIX token are candidates, and the filter is LOSSLESS:
    the exact verify predicate (same as method="exact") runs on the
    candidates, so the output is bit-identical.

    The order used is ascending GLOBAL token frequency (ties by token):
    prefixes then hold each doc's rarest tokens, so candidate buckets
    stay near-singleton except for true near-dup clusters — whose pairs
    are output anyway. That's what makes this the 100 TB scale path:
    every stage is linear in tokens; no g² stream, no silent cap (unlike
    minhash's probabilistic bands, this path misses NOTHING).

    Plan: one token-count aggregation, one ordered-array rebuild
    (explode → count join → sort_array rebuild), one slim (group, token)
    candidate self-join over prefixes only, then two array re-attach
    joins for the verify. All shuffles are O(tokens) or O(candidates)."""
    toks = sh.select(F.explode("_sh").alias("_t")).groupBy("_t").agg(
        F.count(F.lit(1)).alias("_cnt"))
    ordered = (
        sh.select("_g", "_id", "_n", F.explode("_sh").alias("_t"))
        .join(toks, "_t")
        .groupBy("_g", "_id", "_n")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("_cnt", "_t"))),
            lambda s: s["_t"],
        ).alias("_sh"))
        .withColumn(
            "_pref",
            # ceil(t·n) with a downward epsilon: an upward float error on
            # a mathematically-integral t·n would round the ceiling up,
            # SHORTEN the prefix, and silently lose pairs — the epsilon
            # errs toward a one-longer prefix (more candidates, still
            # lossless), never a shorter one
            F.slice("_sh", 1,
                    F.col("_n")
                    - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9))
                    + F.lit(1)),
        )
        .persist()
    )
    pref = ordered.select(
        "_g", "_id", "_n", F.posexplode("_pref").alias("_p", "_t"))
    # PPJoin positional bound (Xiao et al. WWW'08 §3.2): for the MINIMAL
    # shared token of a true pair, sitting at 0-indexed positions (pa._p,
    # pb._p), every other shared token lies strictly after it in BOTH
    # ordered arrays, so overlap ≤ 1 + min(n_a−p_a−1, n_b−p_b−1). J ≥ t
    # needs overlap ≥ t/(1+t)·(n_a+n_b); rows violating that can't be the
    # pair's first shared token. A pair survives if ANY of its shared
    # prefix-token rows passes — the minimal-token row of a true pair
    # always does, so the filter is lossless (pinned by
    # test_ngram_prefix_filter_lossless). The epsilon errs toward keeping
    # a candidate, never dropping one.
    _overlap_floor = (F.lit(threshold / (1.0 + threshold))
                      * (F.col("pa._n") + F.col("pb._n")).cast("double")
                      - F.lit(1e-9))
    cand = (
        pref.alias("pa")
        .join(pref.alias("pb"),
              (F.col("pa._g") == F.col("pb._g"))
              & (F.col("pa._t") == F.col("pb._t"))
              & (F.col("pa._id") < F.col("pb._id"))
              # AllPairs length filter AT CANDIDATE TIME: J ≥ t forces
              # |smaller| ≥ t·|larger|, so size-mismatched pairs never
              # enter the candidate set. Same predicate re-runs in the
              # verify (harmless); here it prunes before the dedup
              # shuffle and the two array re-attach joins — the lever
              # that matters when a dense token universe (small-vocab
              # corpora, CJK char shingles) makes prefixes collide.
              & (F.least("pa._n", "pb._n").cast("double")
                 >= F.lit(threshold)
                 * F.greatest("pa._n", "pb._n").cast("double"))
              & ((F.lit(1)
                  + F.least(F.col("pa._n") - F.col("pa._p") - F.lit(1),
                            F.col("pb._n") - F.col("pb._p") - F.lit(1))
                  ).cast("double") >= _overlap_floor))
        .select(F.col("pa._g").alias("_g"),
                F.col("pa._id").alias("id_a"),
                F.col("pb._id").alias("id_b"))
        .dropDuplicates(["_g", "id_a", "id_b"])
    )
    arr_a = ordered.select(
        "_g", F.col("_id").alias("id_a"),
        F.col("_sh").alias("sh_a"), F.col("_n").alias("n_a"))
    arr_b = ordered.select(
        "_g", F.col("_id").alias("id_b"),
        F.col("_sh").alias("sh_b"), F.col("_n").alias("n_b"))
    out = (
        cand.join(arr_a, ["_g", "id_a"])
        .join(arr_b, ["_g", "id_b"])
        .filter(_jaccard_verify_cond(threshold))
        .select(
            F.col("_g").alias(group_col), "id_a", "id_b",
            _jaccard_value().alias("jaccard"),
        )
    )
    out._rs_cached = [sh, ordered]  # caller releases via dedup.release(out)
    return out


# ------------------------------------------- exact-substring dedup (winnow)

def substring_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    window: int = 16,
    max_bucket_size: int = DEFAULT_MAX_BAND_SIZE,
) -> DataFrame:
    """Cross-document EXACT-substring duplicate pairs via winnowing
    fingerprints (Schleimer et al. SIGMOD'03; the dedup use is Lee et al.
    2021's deduplicate-text-datasets, re-expressed for Spark): the
    winnowing guarantee says any substring of length ≥ k + window − 1
    chars shared by two documents yields at least one SHARED fingerprint,
    so the fingerprint-bucket join finds every such pair — detection is
    exact, no probabilistic bands.

    Scale shape mirrors minhash_pairs: explode each doc's (already
    window-sampled, ~1/window of positions) distinct fingerprints, one
    groupBy counts bucket sizes, buckets over ``max_bucket_size`` drop
    (the k² boilerplate bomb is exact dedup's job — same hot-band policy
    as minhash, same auditability argument), and the slim (fp, id)
    self-join emits pairs with their shared-fingerprint count.

    The defaults target corpus-scale spans (k=50, window=16 → any shared
    run ≥ 65 chars is guaranteed detected — the char analog of Lee et
    al.'s 50-token threshold). Pair volume is governed by k, not the
    bucket guard: short fingerprints are ubiquitous across unrelated
    docs, so small k mines an all-pairs bomb even with every bucket
    under the cap (measured at 131k docs, BENCH/BASELINE.md: k=8 →
    590M pairs / 225 s; k=50 → 6.5k true pairs / 37 s). Small k is for
    small fixtures only."""
    from ragflow_spark.operators.textstats import winnow_fingerprints

    fps = winnow_fingerprints(df, id_col, text_col, k=k, window=window)
    ex = fps.select(
        F.col("doc_id").alias("_id"),
        F.explode(F.array_distinct("fingerprints")).alias("fp"),
    )
    ok = (
        ex.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_k"))
        .filter((F.col("_k") >= 2) & (F.col("_k") <= max_bucket_size))
        .select("fp")
    )
    e2 = ex.join(ok, "fp")
    return (
        e2.alias("a")
        .join(
            e2.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )


# -------------------------------------------------- paragraph-level dedup

def _regex_quote(literal: str) -> str:
    """Java-regex literal quoting (java.util.regex.Pattern.quote): wrap in
    \\Q...\\E, splicing around any embedded \\E so regex-special delimiters
    like '|' or '.' split on the literal character, not the regex."""
    return "\\Q" + literal.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def drop_common_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delim: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style cross-document boilerplate removal: segments (split on
    ``delim``) that appear in ≥ ``min_docs`` DISTINCT documents are dropped
    from every document; the rest reassemble in order.

    Scale shape: one explode + one groupBy(segment) with a countDistinct
    partial agg (the distinct-id set stays map-side-combined per segment),
    one join back on the segment hash, one groupBy(doc) reassembly. The
    common-segment set is tiny by construction (it IS the boilerplate), so
    AQE turns the join broadcast at runtime. Output is compact:
    (doc_id, n_kept, n_dropped, clean_md5) — the md5 gates reassembly order
    without shipping the cleaned text."""
    # F.split takes a Java regex while concat_ws below treats delim as a
    # literal — quote it so both sides agree on the boundary ('|', '.', ...)
    segs = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.col(text_col), F.lit(_regex_quote(delim)))
        ).alias("pos", "seg"),
    )
    counts = segs.groupBy("seg").agg(
        F.countDistinct("_id").alias("_ndocs")
    )
    tagged = segs.join(counts, "seg")
    kept_struct = F.when(
        F.col("_ndocs") < min_docs, F.struct("pos", "seg")
    )  # null (dropped by collect_list) when the segment is common
    return (
        tagged.groupBy("_id")
        .agg(
            F.sum((F.col("_ndocs") < min_docs).cast("long")).alias("n_kept"),
            F.sum((F.col("_ndocs") >= min_docs).cast("long")).alias("n_dropped"),
            F.md5(
                F.concat_ws(
                    delim,
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["seg"],
                    ),
                )
            ).alias("clean_md5"),
        )
        .select(
            F.col("_id").alias(id_col), "n_kept", "n_dropped", "clean_md5"
        )
    )


# ------------------------------------------------------ duplicate clusters

def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., SoCC'14 §3): for every node u with
    neighborhood Γ(u), connect each STRICTLY LARGER neighbor to
    m = min(Γ(u) ∪ {u}). Operates on the symmetric edge list; one shuffle
    (groupBy u for the min) + one shuffle join back on u."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("_mv"))
    m = F.least(F.col("u"), F.col("_mv"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: direct every edge large→small, then for each node u
    connect all of its (smaller) neighbors plus u itself to
    m = min neighbor. Same two-shuffle shape as large-star."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    mins = directed.groupBy("u").agg(F.min("v").alias("_mv"))
    joined = directed.join(mins, "u")
    nbr_edges = joined.filter(F.col("v") != F.col("_mv")).select(
        F.col("v").alias("u"), F.col("_mv").alias("v")
    )
    self_edges = mins.select("u", F.col("_mv").alias("v"))
    return nbr_edges.union(self_edges).distinct()


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id) with
    cluster_id = min doc id in the component (the canonical keeper, matching
    ``exact_dedup_groups``'s min-id convention).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
    rounds even on adversarial long-chain graphs, vs O(diameter) for naive
    min-label propagation (a 10k-doc near-dup chain converges in ~2·log₂ n
    rounds here; the propagation variant needs 10k). Each round is two
    groupBy-min passes + two shuffle joins on the node key, all
    map-side-combinable; every round's edge set is LOCAL-CHECKPOINTED,
    not merely persisted — persist alone leaves the previous round's full
    logical plan nested inside the next one, and the driver OOMs planning
    round ~14 (measured on a 10k path graph). Checkpointing truncates
    lineage, so driver planning stays O(1) per round and executor storage
    holds ~2 snapshots of |edges| (long,long) rows (older ones GC'd by the
    ContextCleaner). On a multi-executor cluster prefer
    ``setCheckpointDir`` + ``.checkpoint()`` for executor-loss tolerance;
    localCheckpoint trades that for speed, right for this single-JVM
    harness. The driver reads only a 2-value (count, checksum) fixed-point
    probe per round.

    Raises RuntimeError if unconverged after ``max_iter`` rounds (silent
    wrong labels are worse than a loud failure; at the default 50 rounds,
    convergence is guaranteed for any graph below ~2^25 nodes, far past
    the 10^12-doc design point). The converged round count is attached as
    ``_rs_rounds`` for observability."""
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    # fixed point: small-star output is a stable star forest (every node
    # points at its component min). Detect via (row count, order-free
    # checksum) — two scalar aggregates per round, no comparison join.
    def probe(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: LongType sum of 64-bit hashes overflows ANSI mode
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    nodes = (
        edges.select(F.col("u").alias("doc_id"))
        .union(edges.select(F.col("v").alias("doc_id")))
        .distinct()
        .persist()
    )
    cur = _small_star(edges).localCheckpoint()
    sig = probe(cur)
    rounds = 1
    converged = False
    for _ in range(max_iter):
        nxt = _small_star(_large_star(cur)).localCheckpoint()
        nsig = probe(nxt)
        cur = nxt
        rounds += 1
        if nsig == sig:
            converged = True
            break
        sig = nsig
    if not converged:
        edges.unpersist()
        nodes.unpersist()
        raise RuntimeError(
            f"dup_clusters: not converged after {max_iter} star rounds — "
            "component structure is adversarial beyond design range"
        )
    # converged star forest: every non-root points at its root; roots are
    # exactly the nodes never appearing on the u side
    out = (
        nodes.join(
            cur.select(F.col("u").alias("doc_id"), F.col("v").alias("_root")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("_root", F.col("doc_id")).alias("cluster_id")
        )
    )
    out._rs_rounds = rounds
    out._rs_cached = [edges, nodes]  # cur is checkpointed, GC'd on deref
    return out


# -------------------------------------------------------------- embedding

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    group_col: str | None = None,
    threshold: float = 0.95,
    allow_full_scan: bool = False,
    use_arrow: bool = True,
) -> DataFrame:
    """Cosine ≥ τ pairs, blocked by ``group_col`` when given. Without a
    group this is an O(n²) full self-join — a scale foot-gun — so the call
    raises unless the caller explicitly passes ``allow_full_scan=True``
    (bounded audits only; at scale block by an LSH/IVF bucket first, see
    ``embedding_near_dup_lsh`` / operators.similarity).

    Grouped + ``use_arrow`` (default, r8): candidate pairs come from one
    BLAS matmul per group (C = V·Vᵀ over the group's vectors, inside
    applyInPandas) with a 1e-4 slack under the threshold, and the exact
    cosine — the SAME Catalyst expression the join path uses, so values
    and the oracle hash cannot move — is recomputed only for the
    candidates. The g² pair stream thus stays in-core at memory
    bandwidth instead of streaming through a per-pair aggregate(zip_with)
    join (sf1.0, 20k vecs in 10 groups: 124.5 s → 1.1 s, same rows).
    Slack soundness: float64 matmul and the sequential fold differ by
    ≤ ~1e-13 relative, and round-half-up at 6 dp lifts a value by at
    most 5e-7 — both orders of magnitude under 1e-4; non-finite cosines
    (zero-norm vectors) are kept as candidates so the exact expression
    decides them identically either way."""
    if group_col is None and not allow_full_scan:
        raise ValueError(
            "embedding_near_dup_pairs without group_col is an O(n²) "
            "crossJoin; pass allow_full_scan=True for bounded inputs or "
            "use embedding_near_dup_lsh at scale"
        )
    cols = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")]
    if group_col:
        cols.append(F.col(group_col).alias("_g"))
    # norms are per-VECTOR, so compute them once on the n input rows, not
    # per ordered pair inside the join (g× redundant per vector in a
    # g-row group); the pair expression keeps the identical FP sequence
    # (sqrt(Σx²)·sqrt(Σy²)), so values — and the oracle hash — don't move
    base = df.select(*cols).withColumn("_n", norm(F.col("_v")))
    pair_cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    if group_col and use_arrow:
        base = base.persist()  # 3 consumers: candidates + two re-attaches
        cand = _emb_near_dup_candidates(base, threshold)
        a = base.select(F.col("_id").alias("id_a"),
                        F.col("_v").alias("va"), F.col("_n").alias("na"))
        b = base.select(F.col("_id").alias("id_b"),
                        F.col("_v").alias("vb"), F.col("_n").alias("nb"))
        out = (
            cand.join(a, "id_a").join(b, "id_b")
            .withColumn("cos", pair_cos)
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos")
        )
        out._rs_cached = [base]  # caller releases via dedup.release(out)
        return out
    on = ["_g"] if group_col else None
    g = ["_g"] if group_col else []
    a = base.select(*g, F.col("_id").alias("id_a"),
                    F.col("_v").alias("va"), F.col("_n").alias("na"))
    b = base.select(*g, F.col("_id").alias("id_b"),
                    F.col("_v").alias("vb"), F.col("_n").alias("nb"))
    joined = a.join(b, on=on) if on else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", pair_cos)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _emb_near_dup_candidates(base: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b) candidate pairs per group via one float64 BLAS matmul
    (see embedding_near_dup_pairs for the slack-soundness argument). Row-
    blocked so peak memory is O(B·g) for the cosine slab plus the group's
    g·d vector matrix."""
    import numpy as np
    import pandas as pd

    types = dict(base.dtypes)
    slack = 1e-4
    row_block = 4096

    def per_group(pdf: pd.DataFrame):
        pdf = pdf[pdf["_v"].notna()].sort_values("_id")
        g = len(pdf)
        if g < 2:
            return pd.DataFrame({"id_a": [], "id_b": []})
        ids = pdf["_id"].to_numpy()
        V = np.array([np.asarray(v, dtype=np.float64)
                      for v in pdf["_v"]])
        n = np.sqrt((V * V).sum(axis=1))
        out_a, out_b = [], []
        for b0 in range(0, g, row_block):
            b1 = min(b0 + row_block, g)
            C = V[b0:b1] @ V.T
            denom = n[b0:b1, None] * n[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = C / denom
            cand = (cos >= threshold - slack) | ~np.isfinite(cos)
            cand &= np.arange(g)[None, :] > np.arange(b0, b1)[:, None]
            ii, jj = np.nonzero(cand)
            out_a.append(ids[ii + b0])
            out_b.append(ids[jj])
        return pd.DataFrame({
            "id_a": np.concatenate(out_a) if out_a else [],
            "id_b": np.concatenate(out_b) if out_b else [],
        })

    return base.groupBy("_g").applyInPandas(
        per_group, schema=f"id_a {types['_id']}, id_b {types['_id']}"
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup at scale: hyperplane-LSH bucket blocking instead
    of a group/full self-join. Vectors with cosine ≥ cos(θ) agree on a
    random hyperplane sign with probability 1-θ/π, so near-identical pairs
    share the full sign pattern with high probability; the self-join runs
    on the bucket key only and exact cosine verifies survivors."""
    from ragflow_spark.operators.similarity import hyperplane_lsh_bucket

    bucketed = hyperplane_lsh_bucket(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        "_v", planes,
    ).withColumn("_n", norm(F.col("_v")))  # per-vector, not per-pair
    a = bucketed.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"),
                        F.col("_n").alias("na"), "bucket")
    b = bucketed.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"),
                        F.col("_n").alias("nb"), "bucket")
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("bucket", "id_a", "id_b", "cos")
    )
