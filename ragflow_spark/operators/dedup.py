"""Deduplication operator family for training-data pipelines.

All variants are DataFrame-native (the LSH family uses only md5/array
higher-order functions, so results are engine-portable and DuckDB-checkable).
Scale notes per operator are in each docstring — the pair miners run as
shuffle-on-key jobs with no driver state, sized for 10^9+ docs.
``dup_clusters`` is the one operator that holds driver state, and only
bounded: an integer-id pair graph of at most T edges (T from the driver
heap) is labelled in driver memory; larger graphs and string ids run the
star rounds.

- exact:     hash-groupBy on normalized text (1 shuffle)
- minhash:   shingle → K md5-minima → B band keys → explode + self-join on
             band (candidate pairs ∝ true dups, not n²) → exact Jaccard
             verify on the pair
- simhash:   64-bit sign-aggregated fingerprint, candidates via 4×16-bit
             chunk banding, hamming ≤ d verify (bit_count is native)
- ngram:     exact n-gram Jaccard within a blocking group via one BLAS
             intersection-count matmul per group (modest group sizes; the
             exact baseline the LSH variants beat)
- embedding: cosine ≥ τ pairs within a blocking group over array<float>
- clusters:  connected components of the pair graph → min-id cluster per
             doc (driver hook-and-jump up to T edges, large/small-star
             rounds above)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegralType

from ragflow_spark.functions.text import (
    MINHASH_MOD,
    fingerprint_md5,
    word_shingles,
)
from ragflow_spark.functions.vectors import dot, norm

# default hot-band cap for the bucket pair joins (minhash, simhash and the
# winnowing fingerprints of substring_dup_pairs). A band key shared by k
# docs emits k² candidate pairs; above this cap the band is dropped.
# Default-ON because an unguarded band join is the one thing that turns
# these from O(n) into O(n²) on a real crawl; callers can pass None to
# disable for small audits.
#
# RECALL CAVEAT (audit before relying on the cap): dropping a hot band
# loses MORE than identical content. A pair of genuinely near-duplicate,
# non-identical docs whose only shared bands happen to be hot (e.g. both
# docs are mostly shared boilerplate plus a small distinct tail) is
# silently missed — exact dedup only covers the byte-identical subset.
# Every guarded operator therefore attaches the dropped hot-key set to its
# result (`_rs_hot_bands`, count it via ``dropped_band_count``) so callers
# can audit the loss instead of trusting it is zero.
DEFAULT_MAX_BAND_SIZE = 1024


def dropped_band_count(df: DataFrame) -> int:
    """Number of distinct hot bands the guard dropped while building this
    pair DataFrame (0 when the guard was off). Lazy: the hot-band set is a
    persisted intermediate of the pair job, so counting it after the main
    action reads the cache — no second pass over the corpus."""
    hot = getattr(df, "_rs_hot_bands", None)
    return 0 if hot is None else hot.count()


def _drop_hot_keys(
    rows: DataFrame, key: str, cap: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """The hot-key guard every bucket self-join shares: a key held by k
    rows emits k² candidate pairs, so keys held by more than ``cap`` rows
    (boilerplate-degenerate at web scale: navigation chrome, legal
    footers) are anti-joined away. Returns ``(rows, hot)`` where ``hot``
    is the persisted set of dropped keys, small by construction and
    broadcast into the anti-join, or None when ``cap`` is None (guard
    off). See DEFAULT_MAX_BAND_SIZE for the recall caveat; ``hot`` goes
    on the result via ``_with_cache`` so ``dropped_band_count`` can
    audit the loss."""
    if cap is None:
        return rows, None
    hot = (
        rows.groupBy(key)
        .count()
        .filter(F.col("count") > cap)
        .select(key)
        .persist()
    )
    return rows.join(F.broadcast(hot), key, "left_anti"), hot


def _with_cache(
    out: DataFrame, cached: list[DataFrame], hot: DataFrame | None
) -> DataFrame:
    """Attach an operator's persisted intermediates to its result
    (``_rs_cached``, freed by ``release``) and the hot-key set, if any
    (``_rs_hot_bands``, counted by ``dropped_band_count``)."""
    out._rs_cached = list(cached)
    if hot is not None:
        out._rs_hot_bands = hot
        out._rs_cached.append(hot)
    return out


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
    tests/test_scale_guards.py pins the two equal.

    Each band hashes ``num_hashes // bands`` signature rows, so ``bands``
    must divide ``num_hashes`` exactly: otherwise trailing hashes would
    be ignored, and with more bands than hashes every band would be
    empty and every doc would share all of its band keys. Raises
    ValueError naming both values when it does not."""
    import hashlib

    import numpy as np
    import pandas as pd

    if not 1 <= bands <= num_hashes or num_hashes % bands:
        raise ValueError(
            f"minhash: bands={bands} must divide num_hashes={num_hashes} "
            "into equal bands of at least one row"
        )
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
    band_rows, hot = _drop_hot_keys(
        base.select("_id", F.explode("_bands").alias("_band")),
        "_band", max_band_size,
    )
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
    return _with_cache(out, [base], hot)


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
    hb, hot = _drop_hot_keys(
        store.select(
            F.col("doc_id").alias("id_hist"), F.explode("bands").alias("_band")
        ).join(nb.select("_band").dropDuplicates(), "_band", "left_semi"),
        "_band", max_band_size,
    )
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
    return _with_cache(out, [new_base], hot)


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
    chunks, hot = _drop_hot_keys(chunks, "_chunk", max_band_size)
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
    return _with_cache(out, [sh], hot)


# ------------------------------------------------------------ ngram exact

# float32 represents every integer below 2²⁴ exactly, so the 0/1 matmul
# intersection counts of a group stay exact while its distinct-shingle
# universe is below this
_MAX_GROUP_VOCAB = 1 << 24


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact pairwise shingle Jaccard ≥ ``threshold`` within a blocking
    group → (group, id_a, id_b, jaccard), id_a < id_b.

    Candidate stage: one applyInPandas task per group builds the binary
    doc×token matrix A and computes every pairwise intersection count as
    C = A·Aᵀ — counts are EXACT integers (0/1 sums in float32, exact
    below 2²⁴; a group whose token universe reaches ``_MAX_GROUP_VOCAB``
    raises ValueError naming the group), identical to
    ``size(array_intersect(sh_a, sh_b))`` because both count the distinct
    shared tokens of two array_distinct'ed sets.
    ``inter/union ≥ t − 1e-6`` keeps every pair the verify could accept
    (round-half-up at 6 dp can lift a value by at most 5e-7).

    Verify stage: each candidate leaves Python as (id_a, id_b, n_a, n_b,
    inter) integer rows, and the jaccard value + threshold decision are
    the SAME Catalyst predicate the O(g²) self-join reference
    ``_ngram_jaccard_exact`` uses (``_jaccard_verify_cond`` over exact
    ints), so values — and the oracle hash — cannot move; the lossless
    test pins the two equal. No pair-side join, no per-pair set ops: the
    g² pair stream stays in-core at memory bandwidth (sf1.0 on a vocab-31
    corpus: 92.4 s for the prefix-filtered join this replaced → 5.0 s,
    same rows).

    Memory envelope per group task: g·V float32 for A (vocab-chunked
    above ~2²⁸ cells) plus a B·g float32 slab for the C row-block —
    ~100 MB at g=2500/V=40k. Use it only when groups are bounded (e.g.
    same host); for unbounded groups the scale path is ``minhash_pairs``.
    The shingle table is persisted; free it with ``release()``."""
    import numpy as np
    import pandas as pd

    sh = _ngram_shingles(df, id_col, text_col, group_col, shingle_n)
    types = dict(sh.dtypes)
    max_vocab = _MAX_GROUP_VOCAB  # read on the driver, shipped by value
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
        gval = pdf["_g"].iloc[0]
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
        if V >= max_vocab:
            raise ValueError(
                f"ngram_jaccard_pairs: group {gval!r} has {V} distinct "
                f"shingles, float32 counts are exact only below {max_vocab}"
                "; block it finer or use minhash_pairs"
            )
        di = np.asarray(doc_idx, dtype=np.int64)
        ti = np.asarray(tok_idx, dtype=np.int64)
        chunk = V if g * V <= cell_budget else max(1, cell_budget // g)
        parts = []
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
    inter = F.col("inter")
    out = cand.filter(_jaccard_verify_cond(threshold, inter)).select(
        F.col("_g").alias(group_col), "id_a", "id_b",
        _jaccard_value(inter).alias("jaccard"),
    )
    return _with_cache(out, [sh], None)


def _ngram_shingles(df: DataFrame, id_col: str, text_col: str,
                    group_col: str, shingle_n: int) -> DataFrame:
    """(_g, _id, _sh, _n): each doc's distinct word shingles and their
    count, persisted (the pair stage reads it more than once)."""
    return df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), shingle_n).alias("_sh"),
    ).withColumn("_n", F.size("_sh")).persist()


def _ngram_jaccard_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """The O(g²) self-join reference for ``ngram_jaccard_pairs``: same
    rows and jaccard doubles, computed with per-pair set ops instead of a
    matmul. Kept for the lossless test, not as an operator.

    Plan shape: ONE self-join on the group key (shuffle volume is the n
    input rows per side — the g² blowup is streamed join output, never
    shuffled), filtered by ``_jaccard_verify_cond``."""
    sh = _ngram_shingles(df, id_col, text_col, group_col, shingle_n)
    a = sh.select(
        F.col("_g"), F.col("_id").alias("id_a"),
        F.col("_sh").alias("sh_a"), F.col("_n").alias("n_a"),
    )
    b = sh.select(
        F.col("_g"), F.col("_id").alias("id_b"),
        F.col("_sh").alias("sh_b"), F.col("_n").alias("n_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    out = (
        a.join(b, on="_g")
        .filter(_jaccard_verify_cond(threshold, inter))
        .select(
            F.col("_g").alias(group_col), "id_a", "id_b",
            _jaccard_value(inter).alias("jaccard"),
        )
    )
    return _with_cache(out, [sh], None)


def _jaccard_value(inter):
    """round(|∩|/|∪|, 6) from a pair's intersection count ``inter`` and
    its set sizes n_a/n_b. The shingle arrays are array_distinct'ed sets,
    so |A∪B| = |A|+|B|-|A∩B| exactly — the sizes are already materialized
    and the second per-pair set build (array_union) becomes two column
    adds (paired A/B at sf0.1 local[32]: 10.24 s → 8.63 s median)."""
    inter = inter.cast("double")
    union = (F.col("n_a") + F.col("n_b")).cast("double") - inter
    return F.round(inter / union, 6)


def _jaccard_verify_cond(threshold: float, inter):
    """The ONE exact pair predicate, as a single conjunction ordered
    cheap→expensive: Catalyst pushes chained filters into the join
    condition in REVERSED order (CombineFilters prepends), so chaining
    .filter(id<).filter(jaccard) puts the O(L) jaccard set ops FIRST and
    evaluates them on every ordered pair — measured 40% slower at sf0.1.
    Here id_a<id_b halves the pairs and the exact size prune (jaccard ≤
    min/max sizes) drops unreachable ones before ``inter`` is computed."""
    return (
        (F.col("id_a") < F.col("id_b"))
        & (
            F.least("n_a", "n_b").cast("double")
            >= F.lit(threshold) * F.greatest("n_a", "n_b").cast("double")
        )
        & (_jaccard_value(inter) >= threshold)
    )


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
    (the k² boilerplate bomb is exact dedup's job — the same hot-key guard
    as minhash, auditable via ``dropped_band_count``; free the persisted
    drop set with ``release()``), and the slim (fp, id) self-join emits
    pairs with their shared-fingerprint count.

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
    # singleton buckets need no filter: they cannot satisfy a._id < b._id
    e2, hot = _drop_hot_keys(ex, "fp", max_bucket_size)
    out = (
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
    return _with_cache(out, [], hot)


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


# Driver bytes budgeted per edge when dup_clusters labels in driver
# memory: the JVM-side Arrow collect buffers, the pyarrow and numpy copies
# of both id columns, and the labelling temporaries (dense ids, parent
# and hooked arrays, the output table). 1 KiB admits ~1M edges at a 1 GiB
# driver heap. Measured on 1M random bigint edges (1.3M nodes, local[2]):
# the driver path also completes at a 512 MiB heap, and the Python driver's
# RSS rises ~170 B/edge (outside the JVM heap). String ids have no width
# bound: at 1M edges, 12-char ids kept 937 MiB in use after GC in a 1 GiB
# heap and cost 308 B/edge of Python object arrays, and 64-char ids ran
# the heap out of memory in the single-partition collect — so only
# integer ids take this path.
_DRIVER_EDGE_BYTES = 1024


def _driver_cap(spark) -> int:
    """Most integer-id edges ``dup_clusters`` labels in driver memory: the
    driver JVM's max heap over ``_DRIVER_EDGE_BYTES``."""
    runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return int(runtime.maxMemory()) // _DRIVER_EDGE_BYTES


def _min_labels(u, v):
    """Connected components of the undirected edges ``u[i]–v[i]`` (numpy
    id arrays) → (nodes, labels), each node's label being its component's
    minimum id. Ids are densed with ``np.unique`` (sorted, so the dense
    minimum is the id minimum), then hook-and-jump: every tree root
    hooks onto the smallest root across its edges (``np.minimum.at``),
    and pointer jumping flattens the forest back to stars. Parents only
    ever decrease, so no cycle forms and each root is its tree's minimum;
    every unfinished tree merges each round, so rounds are O(log n)."""
    import numpy as np

    nodes, dense = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = dense[:len(u)], dense[len(u):]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        low = np.minimum(ra, rb)
        hooked = parent.copy()
        np.minimum.at(hooked, ra, low)
        np.minimum.at(hooked, rb, low)
        while True:
            jumped = hooked[hooked]
            if np.array_equal(jumped, hooked):
                break
            hooked = jumped
        if np.array_equal(hooked, parent):
            return nodes, nodes[parent]
        parent = hooked


def _clusters_on_driver(spark, edges, id_type: str) -> DataFrame:
    """(doc_id, cluster_id) for a collected pyarrow edge table (u, v),
    labelled by ``_min_labels``. The result goes back through Arrow —
    building it from a Python list would go through a pickled RDD and
    start Python workers."""
    import pyarrow as pa

    arrow_type = edges.schema.field("u").type
    nodes, labels = _min_labels(
        edges.column("u").to_numpy(zero_copy_only=False),
        edges.column("v").to_numpy(zero_copy_only=False),
    )
    table = pa.table({
        "doc_id": pa.array(nodes, type=arrow_type),
        "cluster_id": pa.array(labels, type=arrow_type),
    })
    return spark.createDataFrame(table).select(
        F.col("doc_id").cast(id_type), F.col("cluster_id").cast(id_type)
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id) with
    cluster_id = min doc id in the component (the canonical keeper, matching
    ``exact_dedup_groups``'s min-id convention). Null ids and self-loops
    are dropped, so a doc appears iff it has an edge to another doc.

    Driver finish: a graph of at most T edges, T = driver max heap //
    ``_DRIVER_EDGE_BYTES`` (~1M at a 1 GiB heap) for integer ids and 0
    for string ids (unbounded width), is labelled in driver memory by
    ``_min_labels``. The first job is a bounded probe —
    ``limit(T + 1)`` of the raw edges, no distinct, so no dedup shuffle —
    collected as Arrow; at most T rows back means no star round runs and
    that probe is the only job (the labels return as an Arrow-built local
    table). More than T rows back: the star rounds run over the whole
    graph, each costing a checkpoint job and a probe job.

    Star rounds, for larger graphs: alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds even on adversarial long-chain graphs, vs
    O(diameter) for naive min-label propagation (a 10k-doc near-dup chain
    converges in ~2·log₂ n rounds here; the propagation variant needs
    10k). Each round is two groupBy-min passes + two shuffle joins on the
    node key, all map-side-combinable; every round's edge set is
    LOCAL-CHECKPOINTED, not merely persisted — persist alone leaves the
    previous round's full logical plan nested inside the next one, and
    the driver OOMs planning round ~14 (measured on a 10k path graph).
    Checkpointing truncates lineage, so driver planning stays O(1) per
    round and executor storage holds ~2 snapshots of |edges| (long,long)
    rows (older ones GC'd by the ContextCleaner). On a multi-executor
    cluster prefer ``setCheckpointDir`` + ``.checkpoint()`` for
    executor-loss tolerance; localCheckpoint trades that for speed, right
    for this single-JVM harness. The driver reads a 2-value (count,
    checksum) fixed-point probe per round.

    Raises RuntimeError if the star rounds are unconverged after
    ``max_iter`` rounds (silent wrong labels are worse than a loud
    failure; at the default 50 rounds, convergence is guaranteed for any
    graph below ~2^25 nodes, far past the 10^12-doc design point). The
    result carries ``_rs_rounds``, the star rounds run (0 when the whole
    graph was labelled on the driver), and ``_rs_driver_cap``, T.

    The raw edges are persisted for the probe, so a costly upstream pair
    plan (e.g. ``minhash_pairs``' uncached joins) runs once on either
    path; they are unpersisted once the driver has the probe rows or the
    first star round is checkpointed. The result is either the
    driver-built Arrow table or the converged star forest itself (each
    non-root's (doc, root) row plus one (root, root) row per component),
    so ``release`` has nothing to free."""
    spark = pairs.sparkSession
    # persisted: the probe computes the whole upstream pair plan, and the
    # star rounds read it again through distinct()
    raw = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).filter(F.col("u") != F.col("v")).persist()
    id_type = dict(raw.dtypes)["u"]
    integral = isinstance(raw.schema["u"].dataType, IntegralType)
    cap = _driver_cap(spark) if integral else 0

    head = raw.limit(cap + 1).toArrow()
    if head.num_rows <= cap:
        raw.unpersist()
        out = _clusters_on_driver(spark, head, id_type)
        out._rs_rounds = 0
        out._rs_driver_cap = cap
        return out
    edges = raw.distinct()
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

    cur = _small_star(edges).localCheckpoint()
    raw.unpersist()
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
        raise RuntimeError(
            f"dup_clusters: not converged after {max_iter} star rounds — "
            "component structure is adversarial beyond design range"
        )
    # converged star forest: every non-root points at its root and roots
    # never appear on the u side, so the labels are cur's (u, v) rows plus
    # one (root, root) row per distinct root
    out = cur.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    ).union(
        cur.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
        .distinct()
    )
    out._rs_rounds = rounds  # cur is checkpointed, GC'd on deref
    out._rs_driver_cap = cap
    return out


# -------------------------------------------------------------- embedding

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    group_col: str | None = None,
    threshold: float = 0.95,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Cosine ≥ τ pairs (id_a < id_b), blocked by ``group_col``.

    Grouped: candidate pairs come from one BLAS matmul per group (C = V·Vᵀ
    over the group's vectors, inside applyInPandas) with a 1e-4 slack
    under the threshold, and the exact cosine — a Catalyst expression, so
    values and the oracle hash are engine-defined — is recomputed only for
    the candidates. The g² pair stream thus stays in-core at memory
    bandwidth instead of streaming through a per-pair aggregate(zip_with)
    join (sf1.0, 20k vecs in 10 groups: 124.5 s → 1.1 s, same rows).
    Slack soundness: float64 matmul and the sequential fold differ by
    ≤ ~1e-13 relative, and round-half-up at 6 dp lifts a value by at
    most 5e-7 — both orders of magnitude under 1e-4; non-finite cosines
    (zero-norm vectors) are kept as candidates so the exact expression
    decides them. Groups must be bounded (a group's g·d matrix sits in
    one task); for unbounded groups use ``embedding_near_dup_lsh``.

    Without a group (None or empty) this is an O(n²) crossJoin — a scale
    foot-gun — so the call raises unless the caller explicitly passes
    ``allow_full_scan=True`` (bounded audits only; at scale block by an
    LSH/IVF bucket first, see ``embedding_near_dup_lsh`` /
    operators.similarity)."""
    if not group_col and not allow_full_scan:
        raise ValueError(
            "embedding_near_dup_pairs without group_col is an O(n²) "
            "crossJoin; pass allow_full_scan=True for bounded inputs or "
            "use embedding_near_dup_lsh at scale"
        )
    cols = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")]
    if group_col:
        cols.append(F.col(group_col).alias("_g"))
    # norms are per-VECTOR, so compute them once on the n input rows, not
    # per ordered pair (g× redundant per vector in a g-row group); the
    # pair expression keeps the FP sequence sqrt(Σx²)·sqrt(Σy²)
    base = df.select(*cols).withColumn("_n", norm(F.col("_v")))
    # grouped, base has 3 consumers: candidates + two re-attaches
    cached = [base.persist()] if group_col else []
    a = base.select(F.col("_id").alias("id_a"),
                    F.col("_v").alias("va"), F.col("_n").alias("na"))
    b = base.select(F.col("_id").alias("id_b"),
                    F.col("_v").alias("vb"), F.col("_n").alias("nb"))
    if group_col:
        pairs = (_emb_near_dup_candidates(base, threshold)
                 .join(a, "id_a").join(b, "id_b"))
    else:
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    out = (
        pairs.withColumn("cos", F.round(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
    return _with_cache(out, cached, None)


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
