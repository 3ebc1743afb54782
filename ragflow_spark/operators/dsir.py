"""DSIR: Data Selection via Importance Resampling (Xie et al. 2023,
public — arXiv:2302.03169). Select raw-corpus documents whose hashed
n-gram distribution matches a TARGET corpus: fit bag-of-hashed-ngrams
multinomials p (target) and q (raw), weight every raw doc by its log
importance ratio log w(x) = Σ_grams [log p(bucket) − log q(bucket)],
then draw k docs without replacement via the Gumbel top-k trick.

The reference (RAGFlow) has no data-selection tier; this belongs to the
training-data-pipeline layer alongside the CCNet LM and Gopher/C4 rules
(build brief), and follows the same exact-integer numerics contract as
operators/lm.py so the DuckDB oracle is bit-exact:

- tokens: ``regexp_split_to_array(trim(lower(text)), '\\s+')`` — the
  house whitespace contract, lowercased.
- grams: unigrams + space-joined bigrams (the paper's features).
- bucket(gram) = first-8-hex-digits of md5(gram) mod ``num_buckets`` —
  the engine-portable hash the sampling tier already uses.
- log ratios quantized to integer micro-nats:
  ``λ[b] = round(1e6 · ln( ((c_p[b]+1)/(N_p+B)) / ((c_q[b]+1)/(N_q+B)) ))``
  with each division one correctly-rounded double op and a single ln —
  the same measure-zero cross-engine wobble argument as lm.py.
- per-doc weight: ``Σ λ[bucket(gram)]`` summed as int64 over the gram
  MULTISET — exact, order-independent, safe under partial aggregation.
- Gumbel keys: u = (md5-bucket(doc_id, seed) + 0.5)/1e6 in (0,1),
  g = −ln(−ln(u)), quantized to micro-nats; selection key =
  weight_micro + gumbel_micro, ties broken by ascending id.

Scale shape (100 TB): the gram explode is map-side and projects each
gram STRING to its int bucket before anything shuffles; model counts are
one groupBy to O(B) rows (B ~ 10k — the paper's size), collected once
per corpus so λ is computed driver-side (the lm.py model-collect
precedent) and broadcast back; per-doc weights are ONE shuffle on the
doc id with map-side partial sums; top-k is TakeOrderedAndProject (no
global sort materialization). Nothing driver-side exceeds O(B).

The raw corpus is featurized exactly ONCE: ``dsir_select`` persists the
per-(doc, bucket) count frame so the model-fit collect materializes it
and the scoring query reads the cache instead of re-running the
explode+md5 pass (the dedup ``_rs_cached``/``release`` convention). At
crawl scale the same two-phase shape writes that frame to a table
between the model job and the scoring job — persist is the in-session
analogue, and the frame is the post-aggregation slim one (ints only,
grams already dead), not the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_BUCKETS = 10_000
_GUMBEL_RES = 1_000_000  # md5-bucket resolution for the uniform draw


def _hash_bucket(col: Column, num_buckets: int) -> Column:
    """Engine-portable gram hash: int(md5(gram)[:8], 16) % B."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"),
        F.lit(num_buckets),
    )


def _grams(text: Column) -> Column:
    """Unigrams + space-joined bigrams of the lowercased whitespace
    tokens (element_at is 1-indexed, matching the oracle's DuckDB list
    indexing)."""
    t = F.split(F.trim(F.lower(text)), r"\s+")
    bi = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat(
                F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(t, bi)


def gram_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Explode every document into (id, bucket) rows — one per gram
    OCCURRENCE. The gram string dies inside the projection; only the
    int bucket survives to any shuffle."""
    return df.select(
        F.col(id_col),
        F.explode(_grams(F.col(text_col))).alias("__gram"),
    ).select(
        id_col, _hash_bucket(F.col("__gram"), num_buckets).alias("bucket")
    )


def bucket_counts(grams: DataFrame) -> DataFrame:
    """O(B)-row model: occurrences per bucket."""
    return grams.groupBy("bucket").agg(F.count("*").alias("n"))


def doc_bucket_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Per-(doc, bucket) gram occurrence counts — each gram is hashed
    exactly ONCE; both the corpus model (re-aggregate by bucket) and the
    per-doc weights (join λ, weighted sum) derive from this frame.

    Each document's buckets are counted INSIDE one Arrow pass, so the
    frame is produced map-side with ZERO shuffle — the expression form
    ``gram_buckets(...).groupBy(id, bucket).count()`` shuffles one row
    per gram occurrence (5M rows at sf1.0) with almost no map-side
    reduction, which was the single biggest exchange in doc_dsir. Same
    counts by construction: ``_java_ws_tokens`` is the pinned JVM split
    twin (minhash/simhash Arrow precedent) and hashlib.md5 == F.md5 on
    utf-8 bytes; ``gram_buckets`` stays the oracle-checked expression
    reference, pinned equal by test."""
    import hashlib

    from ragflow_spark.operators.dedup import _java_ws_tokens

    id_type = dict(df.dtypes)[id_col]
    nb = int(num_buckets)

    def run(batches):
        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            ids_out: list = []
            b_out: list = []
            n_out: list = []
            for _id, t in zip(pdf[id_col], pdf[text_col]):
                if t is None or (isinstance(t, float)):
                    # null text: the expression path's explode of a null
                    # gram array emits ZERO rows — mirror that (pandas
                    # surfaces string nulls as None/NaN)
                    continue
                toks = _java_ws_tokens(t.lower())
                cnt: dict[int, int] = {}
                for g in toks:
                    b = int(md5(g.encode("utf-8")).hexdigest()[:8], 16) % nb
                    cnt[b] = cnt.get(b, 0) + 1
                for a, c in zip(toks, toks[1:]):
                    g = a + " " + c
                    b = int(md5(g.encode("utf-8")).hexdigest()[:8], 16) % nb
                    cnt[b] = cnt.get(b, 0) + 1
                ids_out.extend([_id] * len(cnt))
                b_out.extend(cnt.keys())
                n_out.extend(cnt.values())
            yield pd.DataFrame({
                id_col: pd.Series(ids_out),
                "bucket": pd.Series(b_out, dtype="int64"),
                "n": pd.Series(n_out, dtype="int64"),
            })

    return df.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, bucket long, n long"
    )


def dsir_log_ratios(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    num_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Per-bucket quantized log importance ratios λ (micro-nats) over
    the union of buckets present in either corpus, Laplace-smoothed over
    the full bucket space.

    The model is computed DRIVER-SIDE from the two O(B)-row count
    collects (the lm.py O(K²)-model precedent, B ≤ ~10k): one job per
    corpus instead of separate total-collect + join jobs, so the
    upstream gram explode runs exactly once per corpus here. The
    arithmetic is the identical IEEE sequence the oracle runs — two
    exact divisions, one ln, half-away micro-nat rounding."""
    import math

    spark = target_counts.sparkSession
    # ONE driver job for both O(B) model collects (r8): the tagged union
    # evaluates target and raw aggregation branches inside a single
    # action — the former two sequential .collect()s each paid full job
    # latency, and the first one alone materialized the shared upstream
    # cache. Row content is identical; the split happens driver-side.
    both = target_counts.select(
        F.lit("p").alias("_side"), "bucket", "n"
    ).unionByName(
        raw_counts.select(F.lit("q").alias("_side"), "bucket", "n")
    ).collect()
    cp = {r["bucket"]: r["n"] for r in both if r["_side"] == "p"}
    cq = {r["bucket"]: r["n"] for r in both if r["_side"] == "q"}
    n_p = sum(cp.values())
    n_q = sum(cq.values())
    rows = []
    for b in sorted(set(cp) | set(cq)):
        c_p, c_q = cp.get(b, 0), cq.get(b, 0)
        lam = math.log(
            ((c_p + 1) / float(n_p + num_buckets))
            / ((c_q + 1) / float(n_q + num_buckets))
        ) * 1e6
        rows.append((int(b), int(c_p), int(c_q),
                     int(math.copysign(math.floor(abs(lam) + 0.5), lam))))
    return spark.createDataFrame(
        rows, "bucket long, c_p long, c_q long, lambda_micro long"
    )


def dsir_weights(
    raw_doc_counts: DataFrame,
    ratios: DataFrame,
    id_col: str,
    default_lambda_micro: int | None = None,
) -> DataFrame:
    """Per-doc log importance weights from the (doc, bucket, n) frame:
    Σ n·λ over the doc's buckets (identical int64 total to summing λ per
    gram occurrence). λ rides a broadcast join; the only shuffle is the
    map-side-combined sum on the doc id.

    When the model was FIT ON THIS CORPUS every raw bucket is present in
    ``ratios`` by construction and the join is inner. When scoring a NEW
    increment against a LOADED model, pass ``default_lambda_micro``
    (``unseen_lambda_micro``) so buckets the model never saw get the
    both-counts-zero smoothed ratio instead of being dropped."""
    lam = ratios.select("bucket", "lambda_micro")
    if default_lambda_micro is None:
        joined = raw_doc_counts.join(F.broadcast(lam), "bucket")
        lam_col = F.col("lambda_micro")
    else:
        joined = raw_doc_counts.join(F.broadcast(lam), "bucket", "left")
        lam_col = F.coalesce(
            F.col("lambda_micro"),
            F.lit(int(default_lambda_micro)).cast("long"),
        )
    return joined.groupBy(id_col).agg(
        F.sum("n").alias("n_grams"),
        F.sum(F.col("n") * lam_col).alias("weight_micro"),
    )


def unseen_lambda_micro(n_p: int, n_q: int, num_buckets: int) -> int:
    """λ for a bucket neither corpus populated — the same IEEE sequence
    as ``dsir_log_ratios`` with both counts 0."""
    import math

    lam = math.log(
        ((0 + 1) / float(n_p + num_buckets))
        / ((0 + 1) / float(n_q + num_buckets))
    ) * 1e6
    return int(math.copysign(math.floor(abs(lam) + 0.5), lam))


def dsir_save(ratios: DataFrame, num_buckets: int, path: str) -> None:
    """Persist the O(B) ratio model (one parquet, ``num_buckets``
    stamped on every row) — the crawl-increment pattern: tomorrow's raw
    batch scores against today's target model without re-counting."""
    ratios.select(
        "bucket", "c_p", "c_q", "lambda_micro",
        F.lit(int(num_buckets)).alias("num_buckets"),
    ).coalesce(1).write.mode("overwrite").parquet(path)


def dsir_load(spark, path: str) -> tuple[DataFrame, int, int]:
    """Load a saved ratio model. Returns (ratios, num_buckets,
    default λ for unseen buckets) — the default reconstructs the corpus
    totals from the saved counts (Σc_p / Σc_q over populated buckets =
    the training totals)."""
    df = spark.read.parquet(path)
    head = df.select(
        F.first("num_buckets").alias("nb"),
        F.sum("c_p").alias("np"), F.sum("c_q").alias("nq"),
    ).first()
    nb = int(head["nb"])
    return (
        df.select("bucket", "c_p", "c_q", "lambda_micro"),
        nb,
        unseen_lambda_micro(int(head["np"]), int(head["nq"]), nb),
    )


def gumbel_micro(id_col: str, seed: int = 42) -> Column:
    """Deterministic seeded Gumbel(0,1) noise in micro-nats from the
    house md5 bucket: u = (bucket + 0.5)/1e6, g = −ln(−ln(u))."""
    h8 = F.substring(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                          F.lit(str(seed)))),
        1, 8,
    )
    b = F.pmod(F.conv(h8, 16, 10).cast("long"), F.lit(_GUMBEL_RES))
    u = (b + F.lit(0.5)) / F.lit(float(_GUMBEL_RES))
    return F.round(-F.log(-F.log(u)) * 1e6, 0).cast("long")


def dsir_resample(
    weights: DataFrame,
    id_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Gumbel top-k: sample k docs without replacement with probability
    ∝ exp(weight). orderBy+limit compiles to TakeOrderedAndProject —
    a per-partition top-k plus a k-row merge, never a global sort."""
    keyed = weights.withColumn(
        "gumbel_micro", gumbel_micro(id_col, seed)
    ).withColumn(
        "key_micro", F.col("weight_micro") + F.col("gumbel_micro")
    )
    return keyed.orderBy(F.desc("key_micro"), F.col(id_col)).limit(k)


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_buckets: int = DEFAULT_BUCKETS,
    seed: int = 42,
) -> DataFrame:
    """End-to-end DSIR: featurize both corpora, fit the ratio model,
    weight every raw doc, Gumbel-top-k. Returns the k selected rows
    (id, n_grams, weight_micro, gumbel_micro, key_micro).

    The raw featurized frame is persisted (see module docstring): the
    raw-model collect materializes it, the returned query reads the
    cache. Release via ``ragflow_spark.operators.dedup.release`` after
    the consuming action."""
    raw_dbc = doc_bucket_counts(raw, id_col, text_col, num_buckets).persist()
    tgt_g = gram_buckets(target, id_col, text_col, num_buckets)
    raw_counts = raw_dbc.groupBy("bucket").agg(F.sum("n").alias("n"))
    ratios = dsir_log_ratios(
        bucket_counts(tgt_g), raw_counts, num_buckets
    )
    out = dsir_resample(
        dsir_weights(raw_dbc, ratios, id_col), id_col, k, seed
    )
    out._rs_cached = [raw_dbc]
    return out
