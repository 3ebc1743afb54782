"""Corpus-trained document quality classifier (the CCNet/fastText shape,
Wenzek et al. 2020 §4.2; DCLM and Dolma both ship the same tier): learn a
linear model over hashed bag-of-words features from weak labels, then
score every document. CCNet trains fastText on Wikipedia-vs-crawl; with
no external corpus available, the weak labels here are the pipeline's own
C4-style ``quality_keep`` heuristic (classic weak supervision / model
distillation — the classifier generalizes the hand rule to vocabulary it
never mentions). The model is binary (presence) multinomial Naive Bayes,
the closed-form deterministic member of that family — training IS
counting, so both engines can reproduce it bit-for-bit (reference has no
classifier tier; this belongs to the training-data layer alongside
Gopher/C4/PII/charlm).

Numerics contract (shared with the DuckDB oracle in __spark_entry__.py):

- features: DISTINCT whitespace tokens of ``trim(lower(text))`` (the
  simhash token split), each hashed to one of ``B`` buckets via the
  engines' shared md5 arithmetic: ``bucket = int(md5(tok)[:8 hex]) % B``;
  per-doc buckets are de-duplicated (presence, not count).
- counts (exact integers in both engines): ``d1[b]``/``d0[b]`` = docs of
  class 1/0 containing bucket b; ``N1``/``N0`` = class sizes.
- weights quantized to integer micro-nats, subtracted AS integers:
  ``w[b] = round(ln((d1+1)/(N1+2))*1e6) - round(ln((d0+1)/(N0+2))*1e6)``
  (Laplace-smoothed presence log-odds); ``prior =
  round(ln((N1+1)/(N0+1))*1e6)``. ln's 1-ulp cross-engine wobble only
  matters within 1e-9 of a micro-nat boundary — measure-zero.
- per-doc score: ``score_micro = prior + Σ_{b ∈ doc} w[b]`` summed as
  int64 — EXACT and order-independent across partitionings;
  ``pred = score_micro >= 0``.

Scale shape (100 TB):

- the feature projection (tokenize → md5 → bucket → distinct) is one
  native expression, whole-stage codegen, zero UDFs;
- training is explode + groupBy(bucket, label) with map-side partial
  aggregation — output is ≤ 2B rows regardless of corpus size — plus an
  O(B) driver collect (B = 4096 by default). ``train_frac`` takes a
  deterministic hash sample for corpora where even one explode pass is
  worth skipping; scored buckets unseen in training fall back to the
  Laplace floor weight, exactly as NB defines it.
- scoring is ZERO-shuffle: the B-entry int64 table rides the closure
  into one vectorized Arrow pass (list gather → segment sums).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from ragflow_spark.operators.lm import _round_half_away

DEFAULT_BUCKETS = 4096


def token_buckets(text: Column, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """Distinct hashed-presence features of a doc as array<int>: distinct
    whitespace tokens -> first 8 md5 hex chars as uint32 -> % n_buckets
    -> distinct again (collisions collapse). One native expression."""
    toks = F.array_distinct(F.split(F.trim(F.lower(text)), r"\s+"))
    return F.array_distinct(
        F.transform(
            toks,
            lambda t: F.pmod(
                F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
                F.lit(n_buckets),
            ).cast("int"),
        )
    )


def _nb_model(cnt_rows, sizes: dict, n_buckets: int
              ) -> tuple[np.ndarray, int]:
    """Shared closed-form NB arithmetic: (bucket, label) count rows +
    class sizes → (int64 micro-nat weight table, prior). The exact
    numerics contract lives here so the fused nb_quality_clf path and
    the standalone nb_train produce identical models."""
    n1, n0 = int(sizes.get(1, 0)), int(sizes.get(0, 0))
    d = np.zeros((2, n_buckets), dtype=np.int64)
    for r in cnt_rows:
        d[int(r[1]), int(r[0])] = int(r[2])
    l1 = _round_half_away(np.log((d[1] + 1.0) / (n1 + 2.0)) * 1e6)
    l0 = _round_half_away(np.log((d[0] + 1.0) / (n0 + 2.0)) * 1e6)
    w = (l1 - l0).astype(np.int64)
    prior = int(_round_half_away(
        np.array(math.log((n1 + 1.0) / (n0 + 1.0)) * 1e6)))
    return w, prior


def _nb_score_feats(feats: DataFrame, weights: np.ndarray,
                    prior_micro: int, has_label: bool) -> DataFrame:
    """Zero-shuffle Arrow scorer over a precomputed (_id, bs[, _y])
    frame — the shared back half of nb_score/nb_quality_clf."""
    w = weights
    p = int(prior_micro)

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lists = pdf["bs"].tolist()
            lens = np.fromiter(
                (len(b) for b in lists), dtype=np.int64, count=len(lists)
            )
            flat = (
                np.concatenate([np.asarray(b, dtype=np.int64) for b in lists])
                if len(lists)
                else np.empty(0, dtype=np.int64)
            )
            ps = np.concatenate([[0], np.cumsum(w[flat])]) if len(flat) else np.array([0])
            ends = np.cumsum(lens)
            starts = ends - lens
            score = p + (ps[ends] - ps[starts])
            out = {
                "_id": pdf["_id"].values,
                "n_feats": lens,
                "score_micro": score,
                "pred": (score >= 0).astype(np.int32),
            }
            if has_label:
                out["label"] = pdf["_y"].values
            yield pd.DataFrame(out)

    schema = "_id long, n_feats int, score_micro long, pred int"
    if has_label:
        schema += ", label int"
    return feats.mapInPandas(_score, schema)


def nb_train(
    df: DataFrame,
    text_col: str,
    label_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
    train_frac: float | None = None,
    id_col: str | None = None,
) -> tuple[np.ndarray, int]:
    """Count-based NB training: one explode + one (bucket, label)
    groupBy (≤ 2B output rows), one tiny class-size agg, O(B) collect.
    Returns (int64 weight table, prior_micro)."""
    if train_frac is not None:
        if id_col is None:
            raise ValueError("train_frac requires id_col")
        mod = 1_000_000
        df = df.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(43)), mod)
            < int(train_frac * mod)
        )
    feats = df.select(
        F.col(label_col).cast("int").alias("y"),
        token_buckets(F.col(text_col), n_buckets).alias("bs"),
    )
    cnt = (
        feats.select("y", F.explode("bs").alias("b"))
        .groupBy("b", "y")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    sizes = {
        r["y"]: r["n"]
        for r in feats.groupBy("y").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return _nb_model(cnt, sizes, n_buckets)


def nb_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: np.ndarray,
    prior_micro: int,
    label_col: str | None = None,
) -> DataFrame:
    """Score every doc against a trained weight table: the bucket
    projection stays JVM-side, then one zero-shuffle Arrow pass gathers
    weights and segment-sums exact int64 scores. Returns (id[, label],
    n_feats, score_micro, pred)."""
    n_buckets = len(weights)
    if weights.dtype != np.int64:
        raise ValueError("weights must be int64 micro-nats")
    cols = [
        F.col(id_col).alias("_id"),
        token_buckets(F.col(text_col), n_buckets).alias("bs"),
    ]
    if label_col is not None:
        cols.append(F.col(label_col).cast("int").alias("_y"))
    feats = df.select(*cols)
    return _nb_score_feats(
        feats, weights, prior_micro, has_label=label_col is not None
    ).withColumnRenamed("_id", id_col)


def nb_quality_clf(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
    train_frac: float | None = None,
) -> DataFrame:
    """Train-on-corpus + score-corpus with the pipeline's own
    ``quality_keep`` heuristic as the weak label (the CCNet shape with
    the hand rule standing in for Wikipedia).

    r8 plan shape: the (id, buckets, label) frame — the quality_keep
    expression bank AND the md5 token-bucket projection — is computed
    ONCE and persisted; training's count/size jobs materialize it and
    the scoring pass reads the cache. The r7 shape re-ran
    quality_features 3× and token_buckets 2× over the corpus (train
    counts, class sizes, score — measured 7.8 s at sf1.0, 3.0 s after
    the scan spread, 1.7 s with this; same rows). Release the cache via
    ``dedup.release`` (the ``_rs_cached`` convention)."""
    from ragflow_spark.operators.textstats import quality_features

    labeled = quality_features(
        df, id_col, text_col, passthrough=(F.col(text_col),)
    ).select(id_col, text_col, F.col("quality_keep").alias("_label"))
    feats = labeled.select(
        F.col(id_col).alias("_id"),
        token_buckets(F.col(text_col), n_buckets).alias("bs"),
        F.col("_label").cast("int").alias("_y"),
    ).persist()
    tf = feats
    if train_frac is not None:
        mod = 1_000_000
        tf = feats.filter(
            F.pmod(F.xxhash64(F.col("_id"), F.lit(43)), mod)
            < int(train_frac * mod)
        )
    cnt = (
        tf.select("_y", F.explode("bs").alias("b"))
        .groupBy("b", "_y")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    sizes = {
        r["_y"]: r["n"]
        for r in tf.groupBy("_y").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    w, prior = _nb_model(cnt, sizes, n_buckets)
    out = _nb_score_feats(feats, w, prior, has_label=True).withColumnRenamed(
        "_id", id_col
    )
    out._rs_cached = [feats]
    return out


def nb_reference(texts: list[str], labels: list[int],
                 n_buckets: int = DEFAULT_BUCKETS) -> list[dict]:
    """Pure-Python sequential twin of train+score for tests: same token
    split, same md5 bucketing, same smoothing and quantization, no
    numpy."""
    import hashlib

    from ragflow_spark.operators.dedup import _java_ws_tokens

    def buckets(t: str) -> list[int]:
        # _java_ws_tokens mirrors the JVM exactly: trim strips SPACES
        # only, \s is ASCII-only, empty edge tokens survive the split
        toks = dict.fromkeys(_java_ws_tokens((t or "").lower()))
        bs = dict.fromkeys(
            int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16)
            % n_buckets
            for tok in toks
        )
        return list(bs)

    def q(x: float) -> int:
        s = x * 1e6
        return int(math.floor(s + 0.5) if s >= 0 else math.ceil(s - 0.5))

    docs = [buckets(t) for t in texts]
    n1 = sum(labels)
    n0 = len(labels) - n1
    d1: dict[int, int] = {}
    d0: dict[int, int] = {}
    for bs, y in zip(docs, labels):
        for b in bs:
            (d1 if y == 1 else d0)[b] = (d1 if y == 1 else d0).get(b, 0) + 1
    prior = q(math.log((n1 + 1.0) / (n0 + 1.0)))

    def w(b: int) -> int:
        return q(math.log((d1.get(b, 0) + 1.0) / (n1 + 2.0))) - q(
            math.log((d0.get(b, 0) + 1.0) / (n0 + 2.0))
        )

    out = []
    for bs, y in zip(docs, labels):
        score = prior + sum(w(b) for b in bs)
        out.append(
            {
                "label": y,
                "n_feats": len(bs),
                "score_micro": score,
                "pred": 1 if score >= 0 else 0,
            }
        )
    return out


def nb_save(spark, weights: np.ndarray, prior_micro: int, path: str) -> None:
    """Persist a trained NB model as a (b, w) parquet with the prior at
    b = -1 — the incremental-crawl path: train once on the historical
    corpus, score every increment against the stored model (one
    zero-shuffle pass, history never re-read)."""
    if weights.dtype != np.int64:
        raise ValueError("weights must be int64 micro-nats")
    rows = [(-1, int(prior_micro))] + [
        (int(b), int(w)) for b, w in enumerate(weights)
    ]
    spark.createDataFrame(rows, "b int, w long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def nb_load(spark, path: str) -> tuple[np.ndarray, int]:
    """Load an nb_save table back into (int64 weights, prior) form."""
    rows = spark.read.parquet(path).collect()
    prior = 0
    n_buckets = max(int(r["b"]) for r in rows) + 1
    w = np.zeros(n_buckets, dtype=np.int64)
    for r in rows:
        if int(r["b"]) == -1:
            prior = int(r["w"])
        else:
            w[int(r["b"])] = int(r["w"])
    return w, prior
