"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 plus the
training-data operator family (dedup / similarity / text analysis / events)
over the driver-provided parquet tables; ``oracle_sql()`` gives the DuckDB
equivalent for every SQL-expressible one. Extraction/chunking queries are
sequential-per-doc algorithms (naive/book/paper templates) and carry no SQL
oracle — they are gated instead by the byte-identity pytest suite
(tests/test_pipeline.py) against parity-core goldens.

Column-name and float-rounding discipline: every computed column is aliased
identically on both sides, float outputs are ROUND()ed on both sides, and
count/sum integer aggregates are CAST to BIGINT in the oracles (DuckDB sums
widen to HUGEINT otherwise).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents table, spread for per-row-heavy compute (r8): the small
    SF parquet arrives as 1-2 scan splits under the session's 8 MB
    maxPartitionBytes, serializing signature/LM/quality expression work
    onto a couple of cores (measured sf1.0: doc_curation 9.2 s,
    doc_simhash 16.6 s on 2 tasks). spread_small_scan is conditional on
    the actual split count, so at crawl scale (scan already parallel) it
    is a plan no-op — the scale-adaptive form of the r7 cost-equalizing
    exchange (doc_repetition precedent)."""
    from ragflow_spark.plans.partitioning import spread_small_scan

    return spread_small_scan(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    )


def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents table WITHOUT the spread exchange — used by the
    minhash-family queries only. Their signature base is persisted and
    re-read by 5 consumers; measured r8 at sf1.0, the pair/verify stages
    re-reading a 32-partition cache ran 2.5 s vs 1.3 s on the unspread
    2-partition cache (identical join strategies, exchange count 13→29
    — the extra exchanges stop being reused), while the base
    materialization itself is warm-cached by the bench. Keeping the r7
    scan shape here avoids trading a hidden warm-pass cost for a real
    per-rep regression; the 100 TB path materializes the signature table
    to storage anyway (minhash_pairs docstring)."""
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unspread embeddings scan — the head-of-table collects (_emb_head)
    read it directly so they don't pay the spread's round-robin exchange
    for an 8-row lookup."""
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings table, spread like _docs: ivf/pq encode chains are
    per-row expression-heavy and the small parquet is one scan split."""
    from ragflow_spark.plans.partitioning import spread_small_scan

    return spread_small_scan(_emb_raw(spark, sf_dir))


def _emb_head(e: DataFrame, n: int = 8):
    """ONE driver job for what the emb_pq_topk construction reads from the
    table head: the n lowest-id rows seed the PQ codebooks
    (pq_codebooks_from_rows), and the query vector (vec_id = 0) is the
    head's first row on this corpus — guarded by a fallback scan if a
    future corpus drops id 0 from the head. Replaces two sequential
    head-of-table jobs with one; collected float32 values widen to the
    identical Python floats the separate collects produced. (The same
    fusion extended to the IVF centroid table measured SLOWER — see the
    emb_ivf_topk NOTE.)"""
    head = e.select("vec_id", "embedding").orderBy("vec_id").limit(n).collect()
    qrow = next((r for r in head if r["vec_id"] == 0), None)
    if qrow is None:
        qrow = e.filter("vec_id = 0").first()
        if qrow is None:
            raise ValueError(
                "embeddings table has no row with vec_id = 0, the query "
                "vector emb_pq_topk searches with")
    return head, [float(x) for x in qrow["embedding"]]


def _head_codebooks(head, m: int = 4, k: int = 8) -> list:
    """pq_codebooks_from_rows' exact books[m][k][sub] from the
    already-collected head rows."""
    if len(head) < k:
        raise ValueError(
            f"PQ codebooks need k={k} head rows, the embeddings table "
            f"gave {len(head)}")
    dim = len(head[0]["embedding"])
    sub = dim // m
    return [
        [[float(x) for x in r["embedding"][j * sub:(j + 1) * sub]]
         for r in head[:k]]
        for j in range(m)
    ]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _tpch_pricing(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _tpch_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    # dims broadcast; the fact-fact join is a SHUFFLED-HASH join (guide
    # §3.1): building orders' per-partition hash table beats sorting 6M
    # lineitem rows for sort-merge — measured 1.70 s → 1.16 s at sf1.0
    # (a per-orderkey pre-aggregation was ALSO tried and lost: 4
    # lines/order scattered across scan splits barely combine map-side,
    # so it just added a 6M-row exchange). Same rows, same join keys.
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _events_stream_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming windowed agg, drained with availableNow.
    Oracle-checked: append mode emits exactly the windows CLOSED by the
    final watermark (max event ts − 2h), so the batch oracle applies the
    same closed-window filter."""
    import tempfile

    from ragflow_spark.streaming.events import (
        run_stream_to_parquet,
        windowed_counts_stream,
    )

    d = tempfile.mkdtemp(prefix="rs_stream_")
    ev = _events(spark, sf)
    src = os.path.join(d, "src")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = run_stream_to_parquet(
        windowed_counts_stream(stream, watermark="2 hours"),
        os.path.join(d, "out"), os.path.join(d, "ckpt"),
    )
    q.awaitTermination(300)
    return spark.read.parquet(os.path.join(d, "out"))


def _events_stream_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user sessions, emitted once a later event closes them — so the
    output equals the batch sessionizer's rows minus each user's
    trailing (still-open) session, which is exactly what the oracle
    computes."""
    import tempfile

    from ragflow_spark.streaming.events import (
        run_stream_to_parquet,
        sessionize_stateful,
    )

    d = tempfile.mkdtemp(prefix="rs_state_")
    ev = _events(spark, sf)
    src = os.path.join(d, "src")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = run_stream_to_parquet(
        sessionize_stateful(stream),
        os.path.join(d, "out"), os.path.join(d, "ckpt"),
    )
    q.awaitTermination(300)
    return spark.read.parquet(os.path.join(d, "out")).withColumn(
        "sum_value", F.round("sum_value", 4)
    )


# materialization root for the extraction-tier structural oracles (the
# Spark query writes here, the DuckDB oracle reads the same parquet)
_ORACLE_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             ".cache")

# reference-anchored snapshot goldens for the no-SQL-twin queries
# (committed parquet; regenerate with tools/gen_query_goldens.py)
_GOLDEN_Q = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "tests", "goldens", "q")


# Registry lineage under the driver's 50-entry record cap: when a round
# consolidates queries to free slots, the old→new mapping is recorded
# here (the machine-readable twin of COVERAGE.md's consolidation table)
# so the cross-round record-drift check can tell a documented
# consolidation from a silently dropped query, and round-over-round
# walls stay traceable (VERDICT r6 #7).
REGISTRY_CONSOLIDATIONS: dict[str, str] = {
    # r6: stage-union consolidations at the cap
    "doc_minhash_sig": "doc_minhash_stages",
    "doc_minhash_bands": "doc_minhash_stages",
    "emb_cluster_sizes": "emb_kmeans_stages",
    "emb_kmeans_step_sizes": "emb_kmeans_stages",
    "emb_hyperplane_lsh": "emb_lsh_stages",
    "emb_near_dup_lsh": "emb_lsh_stages",
    "extract_chunks_invariants": "extract_invariants",
    "extract_manifest_invariants": "extract_invariants",
    "media_meta": "media_meta_frames",
    "media_frame_plan": "media_meta_frames",
    # r7: sampling stage-union frees the slot doc_pii_scrub takes
    "doc_split_assign": "doc_sampling_stages",
    "doc_stratified_sample": "doc_sampling_stages",
    # r7: URL-level dedup joins content dedup as a second stage of the
    # same query (stage='text' is the pre-r7 doc_exact_dedup rows with
    # fp renamed to key)
    "doc_url_dedup": "doc_exact_dedup",
    # r7 (late): stage-unions freeing slots for doc_char_lm /
    # doc_quality_clf / host_stats; the legacy names stay timeable via
    # legacy_bench_queries() so bench lines remain round-comparable
    "doc_simhash": "doc_simhash_stages",
    "doc_simhash_pairs": "doc_simhash_stages",
    "doc_minhash_pairs": "doc_minhash_stages",
    "emb_pq_codes": "emb_pq_stages",
    "emb_pq_topk": "emb_pq_stages",
    # r7 (later): batch event windows/sessions share one tagged union,
    # freeing the slot doc_pack_windows takes (streaming parity queries
    # keep their own slots — different execution surface)
    "events_hourly": "events_stages",
    "events_sessions": "events_stages",
    # r7 (later): the two TPC-H showcase queries share one long-form
    # union, freeing the slot doc_dsir takes
    "tpch_pricing_summary": "tpch_stages",
    "tpch_revenue_by_nation": "tpch_stages",
    # r7 (final): the two STREAMING parity queries share one tagged
    # union, freeing the slot web_linkgraph_stages takes
    "events_stream_hourly": "events_stream_stages",
    "events_stream_sessions": "events_stream_stages",
}


# ----------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full extraction pipeline over a deterministic synthetic
    Common-Crawl-style pages corpus (HTML boilerplate strip → chunk
    templates → spans), sized from sf0.001's documents table."""
    from ragflow_spark.operators.extract import extract_chunks
    from ragflow_spark.sources.pages import generate_pages_df

    pages = generate_pages_df(spark, 128)
    return extract_chunks(pages, num_partitions=8, skip_errors_column=True)


# --------------------------------------------------------------- queries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ragflow_spark.functions.text import (
        fingerprint_md5,
        lsh_bands,
        minhash_signature,
    )
    from ragflow_spark.operators import dedup, events, similarity, textstats
    from ragflow_spark.operators.extract import extract_chunks
    from ragflow_spark.sources.pages import generate_pages_df

    # -------- documents: filters / stats / fingerprints (F1, A7, X7)
    def doc_filter_stats(spark, sf):
        return (
            _docs(spark, sf)
            .filter(F.length("text") <= 128 * 1024 * 1024)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
                F.max("n_chars").alias("max_chars"),
            )
        )

    def doc_fingerprint(spark, sf):
        """Content fingerprints + (r7) incremental exact dedup in one
        tagged union (50-slot cap — doc_exact_dedup precedent).
        stage='fp' is the pre-r7 per-doc md5 row (value=fingerprint).
        stage='incr' drives dedup.incremental_exact_dups: a synthetic
        NEW batch (ids +100000; every doc_id%3==0 doc reuses its history
        text verbatim, doc_id%3==1 docs get a fresh tail, %3==2 sit out)
        is checked against exact_hash_store(documents) — the oracle
        derives the expected hits analytically (fp-group min id), so a
        store/probe mismatch in either operator breaks the hash."""
        d = _docs(spark, sf)
        fp_rows = textstats.doc_fingerprints(d, "doc_id", "text").select(
            F.lit("fp").alias("stage"), "doc_id",
            F.col("fingerprint").alias("value"),
        )
        new_batch = d.filter(F.col("doc_id") % 3 != 2).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.when(F.col("doc_id") % 3 == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"),
                                F.lit(" incremental fresh tail")))
            .alias("text"),
        )
        store = dedup.exact_hash_store(d, "doc_id", "text")
        incr_rows = dedup.incremental_exact_dups(
            new_batch, store, "doc_id", "text"
        ).select(
            F.lit("incr").alias("stage"),
            F.col("id_new").alias("doc_id"),
            F.concat(F.col("fp"), F.lit(":"),
                     F.col("id_hist").cast("string")).alias("value"),
        )
        return fp_rows.unionByName(incr_rows)

    def doc_exact_dedup(spark, sf):
        """Both exact-identity passes in one tagged union (registry slot
        shared under the 50-entry cap, r7 — sampling_stages precedent):
        stage='text' is content-fingerprint dedup (the pre-r7 query,
        key=md5), stage='url' is canonical-URL dedup over deterministic
        messy URLs built from doc_id (case-shuffled host/scheme, default
        port, reordered params, utm_*/fbclid noise, fragments, trailing
        slashes). The oracle derives the canonical URL ANALYTICALLY from
        doc_id — if canonical_url() mishandles any mess feature, the
        group keys diverge and the hash catches it."""
        from ragflow_spark.operators import weburl

        d = _docs(spark, sf)
        text_rows = dedup.exact_dedup_groups(d, "doc_id", "text").select(
            F.lit("text").alias("stage"), F.col("fp").alias("key"),
            "keep_id", "dup_count",
        )
        i = F.col("doc_id")
        messy = d.select(
            "doc_id",
            F.concat(
                F.when(i % 5 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
                F.lit("://"),
                F.when(i % 3 == 0, F.lit("WWW.SITE")).otherwise(
                    F.lit("www.site")),
                (i % 40).cast("string"),
                F.when(i % 3 == 0, F.lit(".COM")).otherwise(F.lit(".com")),
                F.when(i % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
                F.lit("/a/"), (i % 25).cast("string"),
                F.when(i % 6 == 0, F.lit("/")).otherwise(F.lit("")),
                F.when(i % 2 == 0, F.lit("?b=2&a=1")).otherwise(
                    F.lit("?a=1&b=2")),
                F.when(i % 3 == 0, F.lit("&utm_source=news")).otherwise(
                    F.lit("")),
                F.when(i % 5 == 0,
                       F.concat(F.lit("&fbclid=x"), i.cast("string"))
                       ).otherwise(F.lit("")),
                F.when(i % 8 == 0, F.lit("#sec")).otherwise(F.lit("")),
            ).alias("url"),
        )
        url_rows = weburl.url_dedup_groups(messy, "doc_id", "url").select(
            F.lit("url").alias("stage"), F.col("url").alias("key"),
            "keep_id", "dup_count",
        )
        return text_rows.unionByName(url_rows)

    def doc_token_stats(spark, sf):
        return textstats.token_stats_by(_docs(spark, sf), ["lang", "source"], "text")

    def host_stats(spark, sf):
        """Per-host (source) blocklist rollup: volume, quality-fail
        share, exact-dup-loser share, language profile, host_keep
        verdict (weburl.host_stats; the CCNet/Dolma host-level drop
        signal)."""
        from ragflow_spark.operators import weburl

        return weburl.host_stats(
            _docs(spark, sf), "source", "doc_id", "text"
        )

    def doc_quality(spark, sf):
        """Doc-level quality features + (r7) the C4 LINE-level cleaning
        audit (line counts, md5 of the cleaned text, page keep bit) in
        ONE projection over the same scan."""
        return textstats.quality_features(
            _docs(spark, sf), "doc_id", "text", include_c4_lines=True
        )

    def doc_lang_id(spark, sf):
        return textstats.lang_id(_docs(spark, sf), "doc_id", "text")

    def doc_repetition(spark, sf):
        """Gopher repetition signals + (r7) the full Gopher doc-QUALITY
        rule set (symbol ratio, bullet/ellipsis line fractions, alpha-word
        fraction, required-stopword hits, dup line/para fractions, and the
        Arrow-backed top/dup n-gram char fractions) in one projection.
        The cost-equalizing exchange for the single-split small-SF scan
        (measured 2.02 s serial → 0.80 s spread at sf0.1) now lives in
        _docs via spread_small_scan (r8) — conditional on the split
        count, so no second exchange here."""
        d = _docs(spark, sf)
        return textstats.repetition_signals(
            d, "doc_id", "text",
            include_gopher_quality=True,
        )

    def doc_curation(spark, sf):
        """Composed curation pass: C4 quality + Gopher repetition +
        stopword lang-ID + exact-dup demotion → keep bit + first failing
        rule, one projection + one fingerprint shuffle."""
        from ragflow_spark.operators.curate import curate

        return curate(
            _docs(spark, sf), "doc_id", "text",
            allowed_langs=("en", "de", "es", "fr", "zh"),
        )

    def doc_stream_dedup(spark, sf):
        """Streaming exact dedup drained with availableNow: output equals
        the batch keeper set (min doc id per content fingerprint)."""
        import tempfile

        from ragflow_spark.streaming.events import dedup_stream

        d = tempfile.mkdtemp(prefix="rs_sdedup_")
        base = _docs(spark, sf)
        # plant one re-fetch per doc (id + 100000, same text): the stream
        # must keep exactly the original ids
        docs = base.union(
            base.withColumn("doc_id", F.col("doc_id") + 100000)
        ).select(F.format_string("%09d", "doc_id").alias("doc_key"), "text")
        src = os.path.join(d, "src")
        docs.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            dedup_stream(stream, id_col="doc_key", text_col="text")
            .writeStream.format("parquet")
            .option("path", os.path.join(d, "out"))
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(os.path.join(d, "out")).select(
            F.col("doc_key").cast("long").alias("keep_id"), "fp"
        )

    def doc_sampling_stages(spark, sf):
        """Both deterministic sampling operators in one tagged union
        (registry slot shared under the 50-entry cap, r7; the union
        oracle still gates each stage row-for-row — minhash_stages
        precedent): stage='split' is the weighted train/val/test
        assignment from md5 buckets for every doc, stage='sample' is the
        per-language deterministic 20% rank-by-hash sample with a 1-row
        floor per group."""
        from ragflow_spark.operators.sampling import (
            hash_split,
            stratified_sample,
        )

        d = _docs(spark, sf)
        split_rows = hash_split(
            d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
        ).select(
            "doc_id", F.lit("split").alias("stage"),
            F.col("split").alias("value"),
        )
        sample_rows = stratified_sample(d, "doc_id", "lang", 0.2).select(
            "doc_id", F.lit("sample").alias("stage"),
            F.col("lang").alias("value"),
        )
        # stage='host_cap' (r7): the per-domain anti-spam cap over
        # synthesized urls (20 hosts x ~25 docs at sf0.01, cap 10) —
        # survivors are deterministic (raw-url bytewise rank), so the
        # oracle recomputes them with a window + qualify
        from ragflow_spark.operators.weburl import cap_per_host, host_of

        urls = d.select(
            "doc_id",
            F.concat(
                F.lit("https://www.site"),
                (F.col("doc_id") % 20).cast("string"),
                F.lit(".com/p/"), F.col("doc_id").cast("string"),
            ).alias("url"),
        )
        cap_rows = cap_per_host(urls, "url", 10).select(
            "doc_id", F.lit("host_cap").alias("stage"),
            host_of(F.col("url")).alias("value"),
        )
        # stage='weighted' (r7 late): per-row-rate deterministic
        # downsampling — the CCNet tail-downsample / domain-reweight
        # shape; rates keyed by lang as the demo weighting
        from ragflow_spark.operators.sampling import weighted_sample

        rates = {"en": 1.0, "de": 0.5, "fr": 0.25, "zh": 0.1, "es": 0.75}
        rate = F.lit(0.5)
        for k, v in rates.items():
            rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
        weighted_rows = weighted_sample(
            d.withColumn("_rate", rate), "doc_id", "_rate", seed=7
        ).select(
            "doc_id", F.lit("weighted").alias("stage"),
            F.col("lang").alias("value"),
        )
        # stage='keep_best' (r7 late): quality-aware canonical selection
        # — per exact-fp cluster keep the member with the most tokens
        # (tie: min id), the RefinedWeb keep-one-representative policy;
        # value packs n_members:best_score for the oracle to pin
        from ragflow_spark.functions.text import (
            fingerprint_md5,
            token_count,
        )
        from ragflow_spark.operators.dedup import keep_best

        members = d.select(
            "doc_id",
            fingerprint_md5(F.col("text")).alias("fp"),
            token_count(F.col("text")).alias("toks"),
        )
        kb_rows = keep_best(members, "fp", "doc_id", "toks").select(
            F.col("keep_id").alias("doc_id"),
            F.lit("keep_best").alias("stage"),
            F.concat(
                F.col("n_members").cast("string"), F.lit(":"),
                F.col("best_score").cast("string"),
            ).alias("value"),
        )
        return (
            split_rows.unionByName(sample_rows)
            .unionByName(cap_rows).unionByName(weighted_rows)
            .unionByName(kb_rows)
        )

    def doc_pii_scrub(spark, sf):
        """PII redaction audit: deterministic synthetic PII (an email, a
        phone, an IP, and on every 7th doc an SSN + card) is appended to
        each document, then the native regexp bank masks it — the oracle
        gates per-category hit counters AND the md5 of the scrubbed
        bytes, so both the counting and the exact replacement spans are
        pinned. Fixture text may also contribute organic hits; the
        injection only guarantees a floor."""
        from ragflow_spark.operators.pii import pii_scrub

        d = _docs(spark, sf).select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
                F.lit(".1"),
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.lit(" ssn 123-45-6789 card 4111 1111 1111 1111"),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        return pii_scrub(d, "doc_id", "text")

    def doc_decontam(spark, sf):
        """13-gram collision decontamination audit: the 'eval set' is the
        first 25 documents, so exactly those must report contaminated."""
        from ragflow_spark.operators.decontam import contamination_report

        d = _docs(spark, sf)
        return contamination_report(
            d, d.filter(F.col("doc_id") < 25), "doc_id", "text", n=13
        )

    def doc_curation_summary(spark, sf):
        """What the pipeline threw away: docs + tokens per drop reason."""
        from ragflow_spark.operators.curate import curate, curation_summary

        return curation_summary(curate(
            _docs(spark, sf), "doc_id", "text",
            allowed_langs=("en", "de", "es", "fr", "zh"),
        ))

    def doc_tokenize(spark, sf):
        """Bilingual-tokenizer fields (content_ltks shape) over a built-in
        demo dictionary — rows-only (the DP segmentation has no SQL
        equivalent; the algorithm is pinned by tests/test_tokenizer.py)."""
        demo_dict = [
            "数据 500000 n", "数据库 800000 n", "管理 600000 v",
            "系统 700000 n", "管理系统 300000 n", "查询 400000 v",
            "引擎 300000 n", "查询引擎 250000 n", "分布式 350000 n",
        ]
        # pruning filter, not orderBy+limit: a global sort of the full table
        # just to pick a demo slice is the wrong reflex at scale (doc_id is
        # dense from 0, so the filter selects the same 200 rows)
        return textstats.tokenize_column(
            _docs(spark, sf).filter(F.col("doc_id") < 200),
            "doc_id", "text", demo_dict,
        )

    def top_terms_by_lang(spark, sf):
        from pyspark.sql import Window

        toks = (
            _docs(spark, sf)
            .select("lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
            .filter(F.length("term") > 0)
            .groupBy("lang", "term")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
        return (
            toks.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("lang", "term", "n", "rank")
        )

    # -------- dedup family
    def doc_minhash_stages(spark, sf):
        """Both MinHash pipeline stages — per-doc signature AND the LSH
        band keys — in one tagged union (r5→r6: the driver records only
        the FIRST 50 registry entries, so stage-checks of one operator
        share a query slot; the union oracle still gates each stage
        row-for-row)."""
        d = _docs_raw(spark, sf)  # see _docs_raw: minhash family keeps
        # the unspread scan (persisted-base cache interaction)
        sig = minhash_signature(F.col("text"), 16, 3)
        sig_rows = d.select(
            "doc_id",
            F.lit("sig").alias("stage"),
            F.lit(-1).cast("int").alias("band_no"),
            F.concat_ws(
                ",", F.transform(sig, lambda x: x.cast("string"))
            ).alias("value"),
        )
        band_rows = d.select(
            "doc_id", F.posexplode(lsh_bands(sig, 4, 4)),
        ).select(
            "doc_id",
            F.lit("band").alias("stage"),
            F.col("pos").cast("int").alias("band_no"),
            F.col("col").alias("value"),
        )
        # (r7) incremental tier: a synthetic NEW batch (same construction
        # as doc_fingerprint's incr tier) probes minhash_store(documents)
        # via incremental_minhash_pairs; the oracle recomputes BOTH sides'
        # signatures and the estimate arithmetic from scratch, so the
        # store schema, band candidacy, and the m/16 estimate are all
        # hash-gated. value = id_hist ':' micro-est (m/16 · 1e6 is the
        # exact integer m·62500 — no float formatting in the hash).
        # max_band_size=None: the guard is pinned by its own tests and at
        # gate scales no bucket approaches the cap; the oracle stays an
        # unguarded mirror.
        new_batch = d.filter(F.col("doc_id") % 3 != 2).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.when(F.col("doc_id") % 3 == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"),
                                F.lit(" incremental fresh tail")))
            .alias("text"),
        )
        store = dedup.minhash_store(d, "doc_id", "text")
        incr_rows = dedup.incremental_minhash_pairs(
            new_batch, store, "doc_id", "text",
            est_threshold=0.25, max_band_size=None,
        ).select(
            F.col("id_new").alias("doc_id"),
            F.lit("incr").alias("stage"),
            F.lit(-1).cast("int").alias("band_no"),
            F.concat(
                F.col("id_hist").cast("string"), F.lit(":"),
                F.round(F.col("est_jaccard") * 1000000)
                .cast("bigint").cast("string"),
            ).alias("value"),
        )
        # (r7 late) the pair stage — the LSH candidate join's verified
        # output — folds in under the 50-entry cap; value packs the
        # partner id + exact micro-jaccard (round6 × 1e6, integer)
        pair_rows = dedup.minhash_pairs(
            d, "doc_id", "text",
            num_hashes=16, bands=4, jaccard_threshold=0.5, shingle_n=3,
        ).select(
            F.col("id_a").alias("doc_id"),
            F.lit("pair").alias("stage"),
            F.lit(-1).cast("int").alias("band_no"),
            F.concat(
                F.col("id_b").cast("string"), F.lit(":"),
                F.round(F.col("jaccard") * 1000000)
                .cast("bigint").cast("string"),
            ).alias("value"),
        )
        return (
            sig_rows.unionByName(band_rows)
            .unionByName(incr_rows).unionByName(pair_rows)
        )

    def dup_clusters(spark, sf):
        pairs = dedup.minhash_pairs(
            _docs_raw(spark, sf), "doc_id", "text",
            num_hashes=16, bands=4, jaccard_threshold=0.5, shingle_n=3,
        )
        return dedup.dup_clusters(pairs)

    def doc_seg_dedup(spark, sf):
        """CCNet-style paragraph dedup: documents are segmented into
        10-token lines with a shared boilerplate line injected at the top;
        the operator must drop exactly the boilerplate from every doc and
        reassemble the rest in order (gated by clean_md5)."""
        d = _docs(spark, sf)
        toks = F.split(F.trim("text"), r"\s+")
        n = F.size(toks)
        nseg = F.ceil(n / F.lit(10.0)).cast("int")
        segs = F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)),
        )
        text2 = F.concat(
            F.lit("copyright fixture boilerplate all rights reserved\n"),
            F.array_join(segs, "\n"),
        )
        staged = d.select("doc_id", text2.alias("text2"))
        return dedup.drop_common_segments(staged, "doc_id", "text2", "\n", 2)

    def doc_ngram_jaccard(spark, sf):
        return dedup.ngram_jaccard_pairs(
            _docs(spark, sf), "doc_id", "text", "source",
            threshold=0.5, shingle_n=1,
        )

    def doc_simhash_stages(spark, sf):
        """SimHash signature + hamming≤3 pair stages in one tagged union
        (r7 consolidation at the 50-entry cap; the legacy names stay
        benched via legacy_bench_queries())."""
        d = _docs(spark, sf)
        sig = dedup.simhash64(d, "doc_id", "text").select(
            "doc_id",
            F.lit("sig").alias("stage"),
            F.concat(
                F.col("simhash_hi").cast("string"), F.lit(":"),
                F.col("simhash_lo").cast("string"),
            ).alias("value"),
        )
        pairs = dedup.simhash_pairs(
            d, "doc_id", "text", max_hamming=3
        ).select(
            F.col("id_a").alias("doc_id"),
            F.lit("pair").alias("stage"),
            F.concat(
                F.col("id_b").cast("string"), F.lit(":"),
                F.col("hamming").cast("string"),
            ).alias("value"),
        )
        return sig.unionByName(pairs)

    def doc_char_lm(spark, sf):
        """CCNet-style LM quality scoring: train a char-bigram LM on the
        corpus, score every doc by avg negative log-likelihood (exact
        micro-nat integers; see operators/lm.py for the shared numerics
        contract), then bucket into head/middle/tail by exact ce
        terciles (ppl_tiers — CCNet §4.3; approx_percentile is the
        100 TB path)."""
        from ragflow_spark.operators import lm

        # persist the slim scored frame (5 numeric cols): the tercile
        # percentile job materializes it and the tier projection reads
        # the cache — the r7 shape ran the full normalize+score Arrow
        # pass twice (once for the boundary collect, once for the
        # output; r8, guide §1.2). Released by bench via _rs_cached.
        scored = lm.charlm_score_corpus(
            _docs(spark, sf), "doc_id", "text"
        ).persist()
        out = lm.ppl_tiers(scored)
        out._rs_cached = [scored]
        return out

    def doc_quality_clf(spark, sf):
        """fastText-shape quality classifier (CCNet §4.2), weak labels
        from the quality_keep heuristic: count-based Naive Bayes over
        md5-hashed presence features, exact int64 micro-nat scores (see
        operators/clf.py for the shared numerics contract)."""
        from ragflow_spark.operators import clf

        return clf.nb_quality_clf(_docs(spark, sf), "doc_id", "text")

    # -------- embeddings: similarity search
    def emb_cosine_topk(spark, sf):
        e = _emb(spark, sf)
        qv = [float(x) for x in e.filter("vec_id = 0").first()["embedding"]]
        return similarity.cosine_topk(e, "embedding", qv, k=10, id_col="vec_id")

    def emb_near_dup(spark, sf):
        return dedup.embedding_near_dup_pairs(
            _emb(spark, sf), "vec_id", "embedding", "label", threshold=0.35
        )

    def emb_ivf_topk(spark, sf):
        # NOTE r8: a fused head-collect (one job for qv+centroids via a
        # LocalRelation centroid table) was measured SLOWER here (+0.3 s
        # paired A/B at sf0.1): the centroid/probe subtrees reuse the
        # spread exchange, so the separate collects are nearly free while
        # the fusion adds a head job + driver-side relation construction.
        # Kept only where no centroid table is involved (emb_pq_topk).
        e = _emb(spark, sf)
        qv = [float(x) for x in e.filter("vec_id = 0").first()["embedding"]]
        cents = similarity.make_centroids_from_rows(e, "embedding", "vec_id", 8)
        indexed = similarity.ivf_build(e, "embedding", "vec_id", cents)
        return similarity.ivf_topk(
            indexed, "embedding", "vec_id", cents, qv, k=10, nprobe=2
        )

    def emb_kmeans_stages(spark, sf):
        """IVF assignment sizes at the seed centroids ('assign') and after
        one native Lloyd iteration ('refined') — the former emb_cluster_sizes
        + emb_kmeans_step_sizes merged into one tagged union (driver
        records only the first 50 registry entries; both stages stay
        oracle-gated row-for-row)."""
        e = _emb(spark, sf)
        cents = similarity.make_centroids_from_rows(e, "embedding", "vec_id", 8)
        indexed = similarity.ivf_build(e, "embedding", "vec_id", cents)
        assign = indexed.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n_vecs")
        ).select(F.lit("assign").alias("stage"), "cluster_id", "n_vecs")
        refined = similarity.kmeans_refine(indexed, "embedding", "vec_id")
        indexed2 = similarity.ivf_build(e, "embedding", "vec_id", refined)
        step = indexed2.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n_vecs")
        ).select(F.lit("refined").alias("stage"), "cluster_id", "n_vecs")
        return assign.unionByName(step)

    # -------- product quantization (ANN at billion scale: 64 floats → m
    # codes; encode + asymmetric-distance search, both oracle-gated)
    def emb_pq_stages(spark, sf):
        """PQ code assignment + ADC top-k in one tagged union (r7
        consolidation at the cap): one codebook training + encode pass
        feeds both stages, so this is strictly cheaper than the two
        queries it replaces."""
        e = _emb(spark, sf)
        books = similarity.pq_codebooks_from_rows(e, "embedding", "vec_id", 4, 8)
        enc = similarity.pq_encode(e, "embedding", "vec_id", books)
        code_rows = enc.select(
            F.lit("code").alias("stage"),
            "vec_id",
            F.concat_ws(
                ",", F.transform("codes", lambda x: x.cast("string"))
            ).alias("code"),
            F.lit(None).cast("double").alias("adc"),
        )
        qv = [float(x) for x in e.filter("vec_id = 0").first()["embedding"]]
        topk_rows = similarity.pq_adc_topk(enc, books, qv, topk=10).select(
            F.lit("topk").alias("stage"),
            "vec_id",
            F.lit(None).cast("string").alias("code"),
            "adc",
        )
        return code_rows.unionByName(topk_rows)

    def emb_ivf_pq_topk(spark, sf):
        """The composed billion-vector path — IVF probe → PQ-ADC shortlist
        → exact re-rank — against the brute-force oracle: recall must be
        perfect on this corpus, proving the shortlist never loses a true
        neighbor here."""
        # NOTE r8: the head-collect fusion was measured slower here too
        # (see emb_ivf_topk) — the four sequential driver jobs from the
        # "not yet optimized" list are each one reused-exchange takeOrdered
        # away from free at this scale.
        e = _emb(spark, sf)
        qv = [float(x) for x in e.filter("vec_id = 0").first()["embedding"]]
        cents = similarity.make_centroids_from_rows(e, "embedding", "vec_id", 8)
        books = similarity.pq_codebooks_from_rows(e, "embedding", "vec_id", 4, 8)
        indexed = similarity.ivf_build(e, "embedding", "vec_id", cents)
        enc = similarity.pq_encode(indexed, "embedding", "vec_id", books,
                                   keep_cols=("cluster_id", "embedding"))
        # rerank=200 on a 500-vector corpus: the m=4/k=8 codes are coarse,
        # so the shortlist must stay generous at toy scale; the 1M smoke
        # (tools/ann_smoke.py) measures the honest shortlist ratio
        return similarity.ivf_pq_topk(
            enc, "embedding", "vec_id", cents, books, qv,
            k=10, nprobe=4, rerank=200,
        )

    def emb_ivf_pq_recall(spark, sf):
        """recall@10 of the composed IVF→PQ→re-rank path vs brute force,
        computed INSIDE Spark (no collect of either result set): each
        brute-force top-10 row carries a found flag from a broadcast-sized
        join against the IVF-PQ top-10. The oracle is brute force with
        found=1 on every row, so any quantizer/probe change that silently
        trades recall for speed at this sf turns the row red (VERDICT r5
        #7)."""
        e = _emb(spark, sf)
        qv = [float(x) for x in e.filter("vec_id = 0").first()["embedding"]]
        brute = similarity.cosine_topk(e, "embedding", qv, k=10,
                                       id_col="vec_id")
        cents = similarity.make_centroids_from_rows(e, "embedding", "vec_id", 8)
        books = similarity.pq_codebooks_from_rows(e, "embedding", "vec_id", 4, 8)
        indexed = similarity.ivf_build(e, "embedding", "vec_id", cents)
        enc = similarity.pq_encode(indexed, "embedding", "vec_id", books,
                                   keep_cols=("cluster_id", "embedding"))
        approx = similarity.ivf_pq_topk(
            enc, "embedding", "vec_id", cents, books, qv,
            k=10, nprobe=4, rerank=200,
        ).select("vec_id", F.lit(1).cast("int").alias("found"))
        return (
            brute.join(F.broadcast(approx), "vec_id", "left")
            .select(
                "vec_id", "cos",
                F.coalesce("found", F.lit(0)).cast("int").alias("found"),
            )
        )

    # -------- table typing (SURVEY §2.6 C6 as native DataFrame ops)
    def table_typing(spark, sf):
        from ragflow_spark.operators.tables import column_type_votes

        li = _t(spark, sf, "lineitem").select(
            F.col("l_orderkey").cast("string").alias("a"),
            F.col("l_extendedprice").cast("string").alias("b"),
            F.col("l_shipdate").cast("string").alias("c"),
            F.col("l_returnflag").alias("d"),
        )
        return column_type_votes(li, ["a", "b", "c", "d"])

    # -------- TSR-lite end-to-end gate: PDFs are SYNTHESIZED from lineitem
    # rows, parsed back by the distributed table-structure tier, and the
    # oracle reconstructs the expected cells from lineitem directly —
    # parse(render(data)) == data.
    def pdf_table_cells(spark, sf):
        from ragflow_spark.core import pdf_mini
        from ragflow_spark.operators.tables import pdf_table_cells as op

        rows = (
            _t(spark, sf, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice",
                    "l_shipdate", "l_returnflag")
            .orderBy("l_orderkey", "l_linenumber")
            .limit(40)
            .collect()
        )
        xcols = (72.0, 190.0, 310.0, 430.0, 530.0)
        header = ("orderkey", "linenumber", "price", "shipdate", "flag")
        blobs = []
        for d in range(4):
            items = [(72.0, 700.0, f"Table {d + 1}: lineitem sample")]
            y = 670.0
            for c, x in zip(header, xcols):
                items.append((x, y, c))
            for r in rows[d * 10:(d + 1) * 10]:
                y -= 15.0
                vals = (
                    str(r.l_orderkey), str(r.l_linenumber),
                    f"{r.l_extendedprice:.2f}",
                    r.l_shipdate.strftime("%Y-%m-%d"), r.l_returnflag,
                )
                for c, x in zip(vals, xcols):
                    items.append((x, y, c))
            blobs.append((d, pdf_mini.build_positioned_pdf([items])))
        docs = spark.createDataFrame(blobs, "doc_no int, pdf binary")
        return op(docs, "doc_no", "pdf")

    def table_row_chunks(spark, sf):
        """The `table` parser template distributed over binary CSV blobs
        synthesized from lineitem; the oracle reconstructs every
        'header:value; ...' row chunk straight from lineitem in SQL —
        parse(render(data)) == data incl. the type-vote transforms
        (ints bare, floats shortest-repr, dates -> '%Y-%m-%d 00:00:00')."""
        from ragflow_spark.operators.tables import table_row_chunks as op

        rows = (
            _t(spark, sf, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice",
                    "l_shipdate", "l_returnflag")
            # the synthetic lineitem has duplicate (orderkey, linenumber)
            # pairs — full-row sort keys make the 60-row prefix stable
            .orderBy("l_orderkey", "l_linenumber", "l_extendedprice",
                     "l_shipdate", "l_returnflag")
            .limit(60)
            .collect()
        )
        blobs = []
        for d in range(4):
            lines = ["orderkey\tlinenumber\tprice\tshipdate\tflag"]
            for r in rows[d * 15:(d + 1) * 15]:
                lines.append("\t".join((
                    str(r.l_orderkey), str(r.l_linenumber),
                    f"{r.l_extendedprice:.2f}",
                    r.l_shipdate.strftime("%Y-%m-%d"), r.l_returnflag,
                )))
            blobs.append((d, "\n".join(lines).encode("utf-8")))
        docs = spark.createDataFrame(blobs, "doc_no int, blob binary")
        return op(docs, "doc_no", "blob")

    # -------- hyperplane LSH bucketing (similarity scale path)
    def emb_lsh_stages(spark, sf):
        """Hyperplane-LSH bucket histogram ('bucket' rows, 6 planes seed
        42) plus the LSH-blocked near-dup pairs ('pair' rows, 4 planes
        seed 7) — former emb_hyperplane_lsh + emb_near_dup_lsh in one
        tagged union (driver records only the first 50 registry
        entries)."""
        from ragflow_spark.operators.similarity import (
            deterministic_hyperplanes,
            hyperplane_lsh_bucket,
        )

        planes6 = deterministic_hyperplanes(64, 6, seed=42)
        buckets = (
            hyperplane_lsh_bucket(_emb(spark, sf), "embedding", planes6)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_vecs"))
            .select(
                F.lit("bucket").alias("part"), "bucket",
                F.lit(None).cast("long").alias("id_a"),
                F.lit(None).cast("long").alias("id_b"),
                F.col("n_vecs").cast("long").alias("n_vecs"),
                F.lit(None).cast("double").alias("cos"),
            )
        )
        planes4 = deterministic_hyperplanes(64, 4, seed=7)
        pairs = dedup.embedding_near_dup_lsh(
            _emb(spark, sf), "vec_id", "embedding", planes4, threshold=0.3
        ).select(
            F.lit("pair").alias("part"), "bucket",
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.lit(None).cast("long").alias("n_vecs"),
            "cos",
        )
        return buckets.unionByName(pairs)

    # -------- events
    def events_stages(spark, sf):
        """Batch event-stream analytics in one tagged union (r7
        consolidation at the 50-entry cap; the legacy names stay benched
        via legacy_bench_queries()): stage='hourly' is the tumbling
        hourly window count/sum per event type, stage='session' is the
        30-min-gap sessionization rollup. Timestamps stay typed (ts_a /
        ts_b) so the driver's value hashing follows the proven path."""
        h = events.windowed_counts(_events(spark, sf)).select(
            F.lit("hourly").alias("stage"),
            F.col("event_type").alias("grp"),
            F.col("window_start").alias("ts_a"),
            F.lit(None).cast("timestamp").alias("ts_b"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value").alias("sum_value"),
        )
        s = events.sessionize(_events(spark, sf)).select(
            F.lit("session").alias("stage"),
            F.concat(
                F.col("user_id").cast("string"), F.lit(":"),
                F.col("session_seq").cast("string"),
            ).alias("grp"),
            F.col("session_start").alias("ts_a"),
            F.col("session_end").alias("ts_b"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value").alias("sum_value"),
        )
        return h.unionByName(s)

    def doc_pack_windows(spark, sf):
        """Sequence packing (concat-and-chunk training-window planning):
        documents in ascending doc_id order are concatenated as token
        streams and split every 256 tokens; one row per (doc, window)
        overlap with the doc's [start, end) slice and its position in
        the window. Token counts are the whitespace contract
        (functions.text.token_count == oracle _toks_sql). Scale shape:
        bucketed two-level cumulative sum — the only unpartitioned
        Window runs over the per-bucket totals, never the corpus
        (operators/packing.py)."""
        from ragflow_spark.functions.text import token_count
        from ragflow_spark.operators.packing import pack_windows

        d = _docs(spark, sf).select(
            "doc_id", token_count(F.col("text")).alias("n_tokens")
        )
        return pack_windows(d, "doc_id", "n_tokens", ctx_len=256)

    def events_stream_stages(spark, sf):
        """Both STREAMING parity queries in one tagged union (r7 final
        consolidation at the 50-entry cap; the legacy names stay benched
        via legacy_bench_queries()): stage='hourly' is the watermarked
        tumbling-window count/sum drained with availableNow (append mode
        emits exactly the windows closed by the final watermark),
        stage='session' is the applyInPandasWithState sessionizer
        (closed sessions only). Same union shape as events_stages."""
        h = _events_stream_hourly(spark, sf).select(
            F.lit("hourly").alias("stage"),
            F.col("event_type").alias("grp"),
            F.col("window_start").alias("ts_a"),
            F.lit(None).cast("timestamp").alias("ts_b"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value").alias("sum_value"),
        )
        s = _events_stream_sessions(spark, sf).select(
            F.lit("session").alias("stage"),
            F.col("user_id").cast("string").alias("grp"),
            F.col("session_start").alias("ts_a"),
            F.col("session_end").alias("ts_b"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value").alias("sum_value"),
        )
        return h.unionByName(s)

    def web_linkgraph_stages(spark, sf):
        """Link-graph tier over a deterministic anchor corpus: pages are
        synthesized from documents.doc_id by pure modular arithmetic
        (20 content hosts h0..h19 + the sink host h20 that never links
        out), their HTML carries one absolute, one protocol-relative,
        one root-relative (self-host), one javascript: and one
        fragment-only anchor — then the REAL operators run: outlink
        harvest (regexp projection), href resolution, canonical host
        edges, degree totals, and 3 iterations of exact fixed-point
        PageRank with dangling-mass redistribution. The oracle rebuilds
        the same edges by the same arithmetic in SQL and unrolls the
        BIGINT power iteration, so any extraction/resolution/rank error
        breaks the hash. stage='edge' (a=src, b=dst, n=weight),
        stage='outdeg'/'indeg' (a=host, n=weight total),
        stage='rank' (a=host, n=rank in nano-units)."""
        from ragflow_spark.operators import linkgraph as lgr

        d = F.col("doc_id").cast("long")
        pages = _docs(spark, sf).select(
            F.format_string(
                "https://h%d.example.com/dir/page%d.html", (d * 7) % 20, d
            ).alias("url"),
            F.concat(
                F.lit('<html><body><p>t</p><a href="https://h'),
                ((d * 13 + 1) % 20).cast("string"),
                F.format_string(".example.com/p%d\">a</a>", d % 7),
                F.lit("<a href='//h"),
                ((d * 13 + 2) % 20).cast("string"),
                F.lit(".example.com/q'>b</a>"),
                F.format_string('<a href="/local/%d">c</a>', d % 5),
                F.when(
                    d % 10 == 0,
                    F.lit('<a href="https://h20.example.com/sink">s</a>'),
                ).otherwise(F.lit("")),
                F.lit('<a href="javascript:void(0)">j</a>'
                      '<a href="#frag">f</a></body></html>'),
            ).alias("html"),
        )
        edges = lgr.host_edges(lgr.extract_outlinks(pages))
        e = edges.select(
            F.lit("edge").alias("stage"),
            F.col("src_host").alias("a"),
            F.col("dst_host").alias("b"),
            F.col("weight").alias("n"),
        )
        deg = lgr.degree_stats(edges)
        dd = deg.select(
            F.lit("outdeg").alias("stage"), F.col("host").alias("a"),
            F.lit(None).cast("string").alias("b"),
            F.col("out_w").alias("n"),
        ).unionByName(deg.select(
            F.lit("indeg").alias("stage"), F.col("host").alias("a"),
            F.lit(None).cast("string").alias("b"),
            F.col("in_w").alias("n"),
        ))
        r = lgr.pagerank(edges, iterations=3).select(
            F.lit("rank").alias("stage"), F.col("host").alias("a"),
            F.lit(None).cast("string").alias("b"),
            F.col("rank_u").alias("n"),
        )
        # stage='anchor': the well-formed-anchor text harvest (inner
        # tags stripped); the synthetic corpus labels anchors a/b/c/s
        # with arithmetic multiplicities, so the counts pin the
        # anchor-pair extraction and its filters
        at = (
            lgr.extract_anchor_texts(pages)
            .groupBy("text")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .select(
                F.lit("anchor").alias("stage"), F.col("text").alias("a"),
                F.lit(None).cast("string").alias("b"), F.col("n"),
            )
        )
        return e.unionByName(dd).unionByName(r).unionByName(at)

    # -------- relational competence (TPC-H-style over the star schema)
    def tpch_stages(spark, sf):
        """Both TPC-H showcase queries in one long-form union (r7
        consolidation at the 50-entry cap; legacy names stay benched):
        stage='pricing' unstacks the Q1 pricing summary into
        (k1=returnflag, k2=linestatus, metric, value) rows, stage=
        'revenue' the 3-join revenue rollup into (k1=n_name, ...)."""
        p = _tpch_pricing(spark, sf).selectExpr(
            "'pricing' as stage", "l_returnflag as k1",
            "l_linestatus as k2",
            "stack(5, 'sum_qty', sum_qty,"
            " 'sum_base_price', sum_base_price,"
            " 'sum_disc_price', sum_disc_price,"
            " 'avg_qty', avg_qty,"
            " 'count_order', cast(count_order as double))"
            " as (metric, value)",
        )
        r = _tpch_revenue(spark, sf).selectExpr(
            "'revenue' as stage", "n_name as k1",
            "cast(null as string) as k2",
            "stack(2, 'revenue', revenue,"
            " 'n_items', cast(n_items as double)) as (metric, value)",
        )
        return p.unionByName(r)

    def doc_dsir(spark, sf):
        """DSIR importance resampling (Xie et al. 2023) toward the
        English slice of the corpus as the target distribution, in one
        tagged union (operators/dsir.py, exact micro-nat integers —
        the lm.py numerics contract): stage='ratio' is the O(B)
        per-bucket model (k=bucket, v1=target count, v2=raw count,
        v3=λ_micro), stage='weight' every raw doc's gram count /
        Σλ weight / Gumbel-noised key (k=doc_id, v1=n_grams,
        v2=weight_micro, v3=key_micro), stage='select' the Gumbel
        top-100 (k=doc_id, v3=key_micro). Scale shape: gram strings die
        map-side into int buckets, model is O(B) broadcast back, one
        doc-id shuffle, TakeOrderedAndProject top-k."""
        from ragflow_spark.operators import dsir

        # the cost-equalizing exchange for the single-split small-SF
        # scan lives in _docs via spread_small_scan (r8) — conditional
        # on the split count; at crawl scale the scan is already
        # thousands of splits and no exchange is added
        d = _docs(spark, sf)
        nb, k, seed = 1024, 100, 42
        # persisted: the raw-model collect materializes the featurized
        # frame, the returned union reads the cache — one corpus pass
        # (dsir.py module docstring; released by bench via _rs_cached)
        raw_dbc = dsir.doc_bucket_counts(d, "doc_id", "text", nb).persist()
        # the target (en) slice is a SUBSET of the raw corpus, so its
        # bucket counts are derivable from the cached featurized frame
        # via a broadcast semi-join on the en doc ids — the r7 shape
        # re-ran the whole gram explode + md5 pass over the en docs a
        # second time (r8, guide §1.2: don't compute things twice;
        # identical counts by construction)
        en_ids = d.where(F.col("lang") == "en").select("doc_id")
        tgt_counts = (
            raw_dbc.join(F.broadcast(en_ids), "doc_id", "left_semi")
            .groupBy("bucket").agg(F.sum("n").alias("n"))
        )
        raw_counts = raw_dbc.groupBy("bucket").agg(
            F.sum("n").alias("n")
        )
        ratios = dsir.dsir_log_ratios(
            tgt_counts, raw_counts, nb
        )
        w = dsir.dsir_weights(raw_dbc, ratios, "doc_id").withColumn(
            "key_micro",
            F.col("weight_micro") + dsir.gumbel_micro("doc_id", seed),
        )
        ratio_rows = ratios.select(
            F.lit("ratio").alias("stage"),
            F.col("bucket").cast("long").alias("k"),
            F.col("c_p").alias("v1"), F.col("c_q").alias("v2"),
            F.col("lambda_micro").alias("v3"),
        )
        weight_rows = w.select(
            F.lit("weight").alias("stage"),
            F.col("doc_id").cast("long").alias("k"),
            F.col("n_grams").cast("long").alias("v1"),
            F.col("weight_micro").alias("v2"),
            F.col("key_micro").alias("v3"),
        )
        sel_rows = (
            w.orderBy(F.desc("key_micro"), F.col("doc_id"))
            .limit(k)
            .select(
                F.lit("select").alias("stage"),
                F.col("doc_id").cast("long").alias("k"),
                F.lit(None).cast("long").alias("v1"),
                F.lit(None).cast("long").alias("v2"),
                F.col("key_micro").alias("v3"),
            )
        )
        out = ratio_rows.unionByName(weight_rows).unionByName(sel_rows)
        out._rs_cached = [raw_dbc]
        return out

    # -------- extraction tier (no SQL oracle: sequential per-doc templates;
    # gated byte-identically by tests/test_pipeline.py)
    def extract_chunks_docs(spark, sf):
        from ragflow_spark.operators.extract import CHUNKS_SCHEMA  # noqa: F401

        docs = _docs(spark, sf).select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.encode(F.col("text"), "utf-8").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.when(F.col("lang") == "zh", "Chinese").otherwise("English").alias("lang"),
            F.lit("naive").alias("parser"),
            F.lit("txt").alias("fmt"),
        )
        return extract_chunks(docs, num_partitions=16, skip_errors_column=True).select(
            "url", "chunk_idx", "chunk_text", "content_hash", "partition_id"
        )

    def extract_pipeline_pages(spark, sf):
        pages = generate_pages_df(spark, 256)
        ch = extract_chunks(pages, num_partitions=16, skip_errors_column=True)
        return ch.select(
            "url", "chunk_idx", "chunk_text",
            F.coalesce("tag_text", "chunk_text").alias("tag_text"),
            "title", "parser", "fmt", "content_hash",
        )

    def extract_manifest(spark, sf):
        from ragflow_spark.plans.manifest import build_manifest

        pages = generate_pages_df(spark, 256)
        chunks = extract_chunks(pages, num_partitions=16)
        return build_manifest(chunks).select(
            "partition_id", "doc_count", "chunk_count", "bytes", "content_hash"
        )

    def _materialize_chunks(spark, subdir):
        """Write the 256-doc pipeline chunk table to a deterministic local
        path so Spark and DuckDB can compute invariants over the SAME
        parquet (the structural oracle for the no-SQL-twin extraction
        tier). Error rows are kept — they are part of the contract."""
        out = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), ".cache", subdir
        )
        pages = generate_pages_df(spark, 256)
        extract_chunks(pages, num_partitions=16).write.mode(
            "overwrite").parquet(out)
        return out, spark.read.parquet(out)

    def extract_invariants(spark, sf):
        """Structural invariants of the extraction output — per-url chunk
        tier AND per-partition manifest tier — computed by Spark AND (via
        oracle_sql) DuckDB over the same materialized parquet: row/chunk
        counts, distinct chunk ids, span first-page monotonicity
        violations, manifest doc/chunk/byte recounts. Former
        extract_chunks_invariants + extract_manifest_invariants in one
        tagged union (driver records only the first 50 registry entries).
        pytest asserts the invariant VALUES in
        tests/test_pipeline.py::test_extract_invariants."""
        from pyspark.sql import Window
        from ragflow_spark.plans.manifest import build_manifest

        _, t = _materialize_chunks(spark, "oracle_invariants")
        # table chunks are emitted BEFORE the merged text chunks (the
        # tokenize_table-first contract, rag/app/naive.py:214-231) and
        # carry positions from anywhere in the doc — page monotonicity is
        # an invariant of the TEXT tier only
        first_pg = F.when(
            (F.size("spans") > 0)
            & ~F.col("chunk_text").startswith("<table"),
            F.element_at("spans", 1).getField("page"),
        )
        w = (Window.partitionBy("url").orderBy("chunk_idx")
             .rowsBetween(Window.unboundedPreceding, -1))
        per_chunk = (
            t.select("url", "chunk_idx", "content_hash", "error",
                     first_pg.alias("first_page"))
            .withColumn("prev_page",
                        F.last("first_page", ignorenulls=True).over(w))
        )
        chunks_tier = per_chunk.groupBy("url").agg(
            F.count(F.lit(1)).cast("long").alias("m1"),
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0))
            .cast("long").alias("m2"),
            F.countDistinct("content_hash").cast("long").alias("m3"),
            F.sum(F.when(F.col("first_page") < F.col("prev_page"), 1)
                  .otherwise(0)).cast("long").alias("m4"),
        ).select(
            F.lit("chunks").alias("tier"), F.col("url").alias("key"),
            "m1", "m2", "m3", "m4",
        )
        manifest_tier = build_manifest(t, num_partitions=16).select(
            F.lit("manifest").alias("tier"),
            F.col("partition_id").cast("string").alias("key"),
            F.col("doc_count").cast("long").alias("m1"),
            F.col("chunk_count").cast("long").alias("m2"),
            F.col("bytes").cast("long").alias("m3"),
            F.lit(0).cast("long").alias("m4"),
        )
        return chunks_tier.unionByName(manifest_tier)

    def doc_winnow_fp(spark, sf):
        """Winnowing fingerprints + (r7) the per-doc count of fingerprints
        shared with at least one OTHER doc — the detection side of
        exact-substring dedup (any cross-doc substring ≥ k+window−1 chars
        guarantees a shared fingerprint; dedup.substring_dup_pairs mines
        the pairs with the hot-bucket guard)."""
        from pyspark.sql import Window

        fps = textstats.winnow_fingerprints(
            _docs(spark, sf), "doc_id", "text"
        ).persist()
        ex = fps.select(
            "doc_id", F.explode(F.array_distinct("fingerprints")).alias("fp")
        )
        # (doc_id, fp) pairs are DISTINCT by construction (explode of a
        # per-doc array_distinct), so the per-fp doc count is a plain
        # count over a window — one fp shuffle total, replacing the r7
        # groupBy(countDistinct) + semi-join-back shape that shuffled the
        # exploded frame by fp twice (r8, guide §2.4; same rows)
        nd = F.count(F.lit(1)).over(Window.partitionBy("fp"))
        per_doc = (
            ex.withColumn("_nd", nd)
            .filter(F.col("_nd") >= 2)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        )
        out = (
            fps.select(
                F.col("doc_id"),
                F.size("fingerprints").alias("n_fingerprints"),
                # stable scalar digest of the fingerprint set
                F.md5(F.concat_ws(",", F.transform(
                    F.col("fingerprints"), lambda x: x.cast("string")
                ))).alias("fp_digest"),
            )
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id", "n_fingerprints", "fp_digest",
                F.coalesce("n_shared_fps", F.lit(0)).alias("n_shared_fps"),
            )
        )
        out._rs_cached = [fps]
        return out

    def media_meta_frames(spark, sf):
        """Media metadata decode ('meta' rows) plus the every-30th-frame
        sampling plan ('frame' rows) — former media_meta +
        media_frame_plan in one tagged union (driver records only the
        first 50 registry entries; both tiers stay oracle-gated)."""
        from ragflow_spark.operators.multimodal import (
            decode_media_meta,
            frame_sample_plan,
        )

        media = _docs(spark, sf).select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("blob"),
            F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio")
            .otherwise("video").alias("kind"),
        )
        meta = decode_media_meta(media, backend="fake")
        meta_rows = meta.select(
            F.lit("meta").alias("part"), "media_id", "kind",
            F.col("n_bytes").cast("long").alias("n_bytes"),
            "width", "height", "n_frames",
            F.lit(-1).cast("int").alias("frame_no"),
        )
        frame_rows = frame_sample_plan(meta, every_n=30).select(
            F.lit("frame").alias("part"), "media_id",
            F.lit(None).cast("string").alias("kind"),
            F.lit(None).cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_frames"),
            F.col("frame_no").cast("int").alias("frame_no"),
        )
        return meta_rows.unionByName(frame_rows)

    def media_detector_plan(spark, sf):
        """Distributed V-tier preprocessing: fake-decoded image dims →
        the real detector_input chain per row → tensor geometry + scale
        factors (LinearResize.generate_scale mirrored in the oracle)."""
        from ragflow_spark.operators.multimodal import (
            decode_media_meta,
            prep_detector_inputs,
        )

        media = _docs(spark, sf).select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("blob"),
            F.lit("image").alias("kind"),
        )
        meta = decode_media_meta(media, backend="fake")
        return prep_detector_inputs(meta.filter(F.col("error").isNull()))

    def media_det_boxes(spark, sf):
        """Distributed detector forward-pass plumbing (V1/V3, VERDICT r4
        #9): deterministic painted-rectangle images -> detector_input
        preproc -> mini-batched (16) fake det session (same run()
        contract as onnxruntime, per-worker singleton) -> DBPostProcess
        -> boxes in source pixels. Oracle: snapshot golden that
        tools/gen_query_goldens.py refuses to write unless every painted
        rect center is contained in a returned box and counts match the
        painted ground truth."""
        from ragflow_spark.operators.detect import (
            detect_text_regions,
            synth_image_rows,
        )

        rows = [(m, p, w, h) for m, p, w, h, _r in synth_image_rows(24)]
        df = spark.createDataFrame(
            rows, "media_id string, pixels binary, width int, height int"
        ).repartition(4)
        out = detect_text_regions(df, backend="fake")
        return out.select(
            "media_id",
            "n_boxes",
            F.md5(F.to_json(F.transform(
                "boxes",
                lambda b: F.transform(b, lambda v: F.round(v, 1)),
            ))).alias("boxes_digest"),
        )

    def media_rec_lines(spark, sf):
        """Distributed recognizer plumbing (V2): band-encoded line images
        -> aspect-sorted mini-batches of 16 -> fake rec session (same
        run() contract as onnxruntime) -> ported CTC label decode. The
        golden is refused unless every decoded string equals the encoded
        ground truth exactly (tools/gen_query_goldens.py)."""
        from ragflow_spark.operators.detect import (
            recognize_text_lines,
            synth_line_rows,
        )

        rows = [(m, p, w, h) for m, p, w, h, _t in synth_line_rows(24)]
        df = spark.createDataFrame(
            rows, "line_id string, pixels binary, width int, height int"
        ).repartition(3)
        return recognize_text_lines(df, backend="fake")

    def media_ocr_lines(spark, sf):
        """The composed OCR loop (ocr.py:581-630) distributed: det boxes
        -> sorted_boxes -> get_rotate_crop_image perspective crops ->
        aspect-sorted rec batches -> CTC decode -> drop_score filter.
        Golden refused unless every page's decoded lines equal the
        encoded ground truth in reading order."""
        from ragflow_spark.operators.detect import (
            ocr_images,
            synth_ocr_pages,
        )

        rows = [(m, p, w, h) for m, p, w, h, _t in synth_ocr_pages(12)]
        df = spark.createDataFrame(
            rows, "media_id string, pixels binary, width int, height int"
        ).repartition(3)
        out = ocr_images(df, backend="fake")
        return out.select(
            "media_id", "line_no", "text", "conf",
            F.md5(F.to_json(F.transform(
                "box", lambda v: F.round(v, 1)))).alias("box_digest"),
        )

    return {
        "doc_filter_stats": doc_filter_stats,
        "doc_fingerprint": doc_fingerprint,
        "doc_exact_dedup": doc_exact_dedup,
        "doc_token_stats": doc_token_stats,
        "doc_quality": doc_quality,
        "doc_lang_id": doc_lang_id,
        "doc_repetition": doc_repetition,
        "doc_curation": doc_curation,
        "doc_curation_summary": doc_curation_summary,
        "doc_stream_dedup": doc_stream_dedup,
        "doc_sampling_stages": doc_sampling_stages,
        "doc_pii_scrub": doc_pii_scrub,
        "doc_decontam": doc_decontam,
        "doc_tokenize": doc_tokenize,
        "top_terms_by_lang": top_terms_by_lang,
        "doc_minhash_stages": doc_minhash_stages,
        "dup_clusters": dup_clusters,
        "doc_seg_dedup": doc_seg_dedup,
        "doc_ngram_jaccard": doc_ngram_jaccard,
        "doc_simhash_stages": doc_simhash_stages,
        "doc_char_lm": doc_char_lm,
        "doc_quality_clf": doc_quality_clf,
        "emb_cosine_topk": emb_cosine_topk,
        "emb_near_dup": emb_near_dup,
        "emb_ivf_topk": emb_ivf_topk,
        "emb_kmeans_stages": emb_kmeans_stages,
        "emb_pq_stages": emb_pq_stages,
        "emb_ivf_pq_topk": emb_ivf_pq_topk,
        "emb_ivf_pq_recall": emb_ivf_pq_recall,
        "emb_lsh_stages": emb_lsh_stages,
        "table_typing": table_typing,
        "pdf_table_cells": pdf_table_cells,
        "host_stats": host_stats,
        "table_row_chunks": table_row_chunks,
        "events_stages": events_stages,
        "doc_pack_windows": doc_pack_windows,
        "events_stream_stages": events_stream_stages,
        "web_linkgraph_stages": web_linkgraph_stages,
        "tpch_stages": tpch_stages,
        "doc_dsir": doc_dsir,
        "extract_chunks_docs": extract_chunks_docs,
        "extract_pipeline_pages": extract_pipeline_pages,
        "extract_manifest": extract_manifest,
        "extract_invariants": extract_invariants,
        "doc_winnow_fp": doc_winnow_fp,
        "media_meta_frames": media_meta_frames,
        "media_detector_plan": media_detector_plan,
        "media_det_boxes": media_det_boxes,
        "media_rec_lines": media_rec_lines,
        "media_ocr_lines": media_ocr_lines,
    }


def legacy_bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Queries consolidated OUT of the 50-entry registry (see
    REGISTRY_CONSOLIDATIONS) but kept timeable under their original
    names so bench.py's per-query lines stay comparable round over
    round. Each builds exactly the DataFrame the registry entry built
    before its consolidation.

    Also carries BENCH-ONLY queries that never had a registry slot (the
    50-cap): ``web_url_quality``, whose bit-exact correctness gate is
    the DuckDB twin in tests/test_weburl.py instead of a driver oracle
    row."""
    from ragflow_spark.operators import dedup, events, similarity, weburl

    def web_url_quality(spark, sf):
        """RefinedWeb-style URL word-score scrub over synthesized urls
        (1-in-7 hard-hit hosts, 1-in-5 triple-soft paths — the
        curate_job --url-col demo distribution)."""
        d = _docs(spark, sf)
        urls = d.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit("https://freeporn"),
                         F.col("doc_id").cast("string"),
                         F.lit(".example/x")),
            ).when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit("https://adult-dating-webcam.example/p/"),
                         F.col("doc_id").cast("string")),
            ).otherwise(
                F.concat(F.lit("https://www.site"),
                         (F.col("doc_id") % 20).cast("string"),
                         F.lit(".com/p/"),
                         F.col("doc_id").cast("string")),
            ).alias("url"),
        )
        return weburl.url_quality_flags(urls, "url", id_col="doc_id")

    def doc_simhash(spark, sf):
        return dedup.simhash64(_docs(spark, sf), "doc_id", "text")

    def doc_simhash_pairs(spark, sf):
        return dedup.simhash_pairs(
            _docs(spark, sf), "doc_id", "text", max_hamming=3
        )

    def doc_minhash_pairs(spark, sf):
        return dedup.minhash_pairs(
            _docs_raw(spark, sf), "doc_id", "text",
            num_hashes=16, bands=4, jaccard_threshold=0.5, shingle_n=3,
        )

    def emb_pq_topk(spark, sf):
        e = _emb(spark, sf)
        head, qv = _emb_head(_emb_raw(spark, sf), 8)
        books = _head_codebooks(head, 4, 8)
        enc = similarity.pq_encode(e, "embedding", "vec_id", books)
        return similarity.pq_adc_topk(enc, books, qv, topk=10)

    return {
        "doc_simhash": doc_simhash,
        "doc_simhash_pairs": doc_simhash_pairs,
        "doc_minhash_pairs": doc_minhash_pairs,
        "emb_pq_topk": emb_pq_topk,
        "events_hourly": lambda spark, sf: events.windowed_counts(
            _events(spark, sf)
        ),
        "events_sessions": lambda spark, sf: events.sessionize(
            _events(spark, sf)
        ),
        "tpch_pricing_summary": _tpch_pricing,
        "tpch_revenue_by_nation": _tpch_revenue,
        "events_stream_hourly": _events_stream_hourly,
        "events_stream_sessions": _events_stream_sessions,
        "web_url_quality": web_url_quality,
    }


# ------------------------------------------------------------ oracle SQL


def _norm_sql(col: str) -> str:
    return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


def _toks_sql(col: str) -> str:
    return f"regexp_split_to_array(trim({col}), '\\s+')"


def _gopher_ngram_sql_cols() -> str:
    """The nine Gopher n-gram char fractions, RE2/DuckDB side of the
    contract in textstats.gopher_ngram_columns (same token split, same
    count*len(gram) arithmetic, half-up round to 6dp, cap 1.0). The top
    count uses the O(distinct^2) list_filter pattern the top_word oracle
    set — fine at the sf0.01 gate size."""
    toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    tl = "greatest(length(text), 1)"
    parts = []
    for n in (2, 3, 4):
        grams = (f"case when len({toks}) >= {n} then "
                 f"list_transform(range(1, len({toks}) - {n} + 2), "
                 f"i -> array_to_string({toks}[i:i+{n}-1], ' ')) "
                 f"else [] end")
        parts.append(
            f"least(round(coalesce(list_max(list_transform("
            f"list_distinct({grams}), "
            f"g -> len(list_filter({grams}, x -> x = g)) * length(g))), 0)"
            f"::DOUBLE / {tl}, 6), 1.0) as top_{n}gram_char_frac"
        )
    for n in (5, 6, 7, 8, 9, 10):
        grams = (f"case when len({toks}) >= {n} then "
                 f"list_transform(range(1, len({toks}) - {n} + 2), "
                 f"i -> array_to_string({toks}[i:i+{n}-1], ' ')) "
                 f"else [] end")
        parts.append(
            f"least(round((coalesce(list_sum(list_transform({grams}, "
            f"x -> length(x))), 0) - coalesce(list_sum(list_transform("
            f"list_distinct({grams}), x -> length(x))), 0))::DOUBLE "
            f"/ {tl}, 6), 1.0) as dup_{n}gram_char_frac"
        )
    return ",\n                         ".join(parts)


_SHINGLES3 = (
    "list_distinct(case when len(toks) >= 3 then "
    "list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' ')) "
    "else [array_to_string(toks, ' ')] end)"
)


# mirrors ragflow_spark.functions.text.minhash_signature: one md5 per
# shingle, h_i = (a + i*b) mod 2^32 where a/b are the md5's 32-bit halves;
# expects a column `ab` of [a, b] pairs (see _AB_SQL)
def _ab_sql() -> str:
    a = _hex8_to_int_sql("substr(h, 1, 8)")
    b = _hex8_to_int_sql("substr(h, 9, 8)")
    return (
        f"list_transform(list_transform(sh, s -> md5(s)), h -> [({a}), ({b})])"
    )


def _minhash_sig_sql(n: int = 16) -> str:
    mins = ", ".join(
        f"list_aggregate(list_transform(ab, p -> (p[1] + {i} * p[2]) % 4294967296), 'min')"
        for i in range(n)
    )
    return f"[{mins}]"


def _bands_sql(bands: int = 4, rows: int = 4) -> str:
    parts = ", ".join(
        f"md5('{b}' || '|' || array_to_string(sig[{b * rows + 1}:{b * rows + rows}], ','))"
        for b in range(bands)
    )
    return f"[{parts}]"


# 8-hex-digit → BIGINT, portable (no strtol in DuckDB): digit positions in
# the hex alphabet, horner-style
def _hex8_to_int_sql(h: str) -> str:
    expr = "0::BIGINT"
    for i in range(1, 9):
        expr = (
            f"({expr}) * 16 + (strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
        )
    return expr


# byte ``i`` (0-based) of md5(col)'s digest, from the hex string
def _md5_byte_sql(col: str, i: int) -> str:
    hx = f"md5({col})"
    hi = f"(strpos('0123456789abcdef', substr({hx}, {2 * i + 1}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substr({hx}, {2 * i + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


def _minhash_pairs_oracle() -> str:
    """Mirror of dedup.minhash_pairs with its default hot-band guard
    (DEFAULT_MAX_BAND_SIZE), reused by doc_minhash_pairs and dup_clusters."""
    return f"""
            with d as (select doc_id, {_toks_sql('text')} as toks from documents),
            s as (select doc_id, {_SHINGLES3} as sh from d),
            p as (select doc_id, sh, {_ab_sql()} as ab from s),
            g as (select doc_id, sh, {_minhash_sig_sql(16)} as sig from p),
            b as (select doc_id, sh, unnest({_bands_sql(4, 4)}) as band from g),
            -- hot-band guard mirror (dedup.DEFAULT_MAX_BAND_SIZE)
            ok as (select band from b group by band having count(*) <= 1024),
            bb as (select b.doc_id, b.sh, b.band from b join ok using (band)),
            cand as (select distinct a.doc_id as id_a, b2.doc_id as id_b,
                            a.sh as sh_a, b2.sh as sh_b
                     from bb a join bb b2 on a.band = b2.band and a.doc_id < b2.doc_id)
            select id_a, id_b,
                   round(len(list_intersect(sh_a, sh_b))::DOUBLE
                         / len(list_distinct(list_concat(sh_a, sh_b))), 6) as jaccard
            from cand
            where len(list_intersect(sh_a, sh_b))::DOUBLE
                  / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5
        """


def _stopword_hits_sql(col: str, words: list[str]) -> str:
    pat = "\\b(?:" + "|".join(words) + ")\\b"
    return f"len(regexp_extract_all(lower({col}), '{pat}'))"


def _table_typing_oracle() -> str:
    int_re = r"^\s*-?[0-9]+\s*$"
    float_re = r"^\s*-?[0-9]*\.[0-9]+([eE][-+]?[0-9]+)?\s*$"
    date_re = r"^\s*[0-9]{4}[-/][0-9]{1,2}[-/][0-9]{1,2}"
    per_col = []
    for c in ("a", "b", "c", "d"):
        per_col.append(f"""
          select '{c}' as "column",
            cast(sum(case when {c} is not null and trim({c}) != '' then 1 else 0 end) as bigint) as n_nonempty,
            cast(sum(case when regexp_matches({c}, '{int_re}') then 1 else 0 end) as bigint) as n_int,
            cast(sum(case when regexp_matches({c}, '{float_re}') then 1 else 0 end) as bigint) as n_float,
            cast(sum(case when regexp_matches({c}, '{date_re}') then 1 else 0 end) as bigint) as n_date
          from t""")
    union = " union all ".join(per_col)
    return f"""
        with t as (select cast(l_orderkey as varchar) a,
                          cast(l_extendedprice as varchar) b,
                          cast(l_shipdate as varchar) c,
                          l_returnflag d
                   from lineitem),
        v as ({union})
        select "column", n_nonempty, n_int, n_float, n_date,
          case when n_nonempty = 0 then 'text'
               when n_int > n_nonempty / 2.0 then 'integer'
               when n_int + n_float > n_nonempty / 2.0 then 'float'
               when n_date > n_nonempty / 2.0 then 'datetime'
               else 'text' end as inferred_type
        from v
    """


# shared CTE block mirroring pq_codebooks_from_rows + pq_encode (m=4, k=8,
# sub_dim=16): deterministic codebooks from the 8 lowest-id rows, per-
# subspace argmin of squared L2 rounded to 9 (tie → lower code)
_PQ_CTES = """
            cents as (
              select row_number() over (order by vec_id) - 1 as cid,
                     embedding::DOUBLE[] as v
              from (select * from embeddings order by vec_id limit 8)),
            subc as (select cid, cast(r.j as int) as j,
                            v[r.j*16+1 : (r.j+1)*16] as sv
                     from cents, range(4) r(j)),
            esub as (select vec_id, cast(r.j as int) as j,
                            (embedding::DOUBLE[])[r.j*16+1 : (r.j+1)*16] as sv
                     from embeddings, range(4) r(j)),
            d as (select e.vec_id, e.j, s.cid,
                         round(list_sum(list_transform(range(1, 17),
                               i -> (e.sv[i] - s.sv[i]) * (e.sv[i] - s.sv[i]))), 9)
                           as dist
                  from esub e join subc s using (j)),
            best as (select vec_id, j, cid,
                            row_number() over (partition by vec_id, j
                                               order by dist, cid) as rn
                     from d),
            codes as (select vec_id, list(cid order by j) as codes
                      from best where rn = 1 group by vec_id)
"""


def _bucket_expr_sql(n_planes: int, seed: int, vec: str = "embedding") -> str:
    from ragflow_spark.operators.similarity import deterministic_hyperplanes

    planes = deterministic_hyperplanes(64, n_planes, seed=seed)
    bits = []
    for p in planes:
        arr = "[" + ", ".join(repr(x) for x in p) + "]"
        bits.append(
            f"case when list_dot_product({vec}::DOUBLE[], "
            f"{arr}::DOUBLE[]) >= 0 then '1' else '0' end"
        )
    return " || ".join(bits)


def _hyperplane_oracle() -> str:
    return f"""
        select ({_bucket_expr_sql(6, 42)}) as bucket,
               cast(count(*) as bigint) as n_vecs
        from embeddings group by 1
    """


def _near_dup_lsh_oracle() -> str:
    return f"""
        with b as (select vec_id, embedding,
                          ({_bucket_expr_sql(4, 7)}) as bucket
                   from embeddings)
        select a.bucket, a.vec_id as id_a, b2.vec_id as id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b2.embedding::DOUBLE[]), 6) as cos
        from b a join b b2 on a.bucket = b2.bucket and a.vec_id < b2.vec_id
        where round(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b2.embedding::DOUBLE[]), 6) >= 0.3
    """


def oracle_sql() -> dict[str, str]:
    from ragflow_spark.operators.pii import (
        PII_FINAL_STAGE as _pii_final_stage,
        PII_FINAL_TEXT as _pii_final_text,
        PII_HIT_COLS as _pii_hit_cols,
        pii_oracle_ctes,
    )
    from ragflow_spark.operators.textstats import STOPWORDS

    _pii_ctes = pii_oracle_ctes("text")
    sw = {k: _stopword_hits_sql("text", v) for k, v in STOPWORDS.items()}
    lang_score_exprs = {
        k: f"round({v}::DOUBLE / greatest(len({_toks_sql('text')}), 1), 6)"
        for k, v in sw.items()
    }
    zh_expr = (
        "round((length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')))::DOUBLE"
        " / greatest(length(text), 1), 6)"
    )
    lang_score_exprs["zh"] = zh_expr
    order = ["en", "de", "es", "fr", "zh"]
    best = "greatest(" + ", ".join(f"s.score_{k}" for k in order) + ")"
    pred_cases = " ".join(
        f"when s.score_{k} = {best.replace('s.', 's.')} then '{k}'" for k in order
    )

    # composed curation flags (mirrors operators.curate.curate): reused by
    # doc_curation and doc_curation_summary
    curation_flags_sql = f"""
            with s as (
              select doc_id,
                     len({_toks_sql('text')}) as n_tokens,
                     {lang_score_exprs['en']} as score_en,
                     {lang_score_exprs['de']} as score_de,
                     {lang_score_exprs['es']} as score_es,
                     {lang_score_exprs['fr']} as score_fr,
                     {zh_expr} as score_zh,
                     round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                           / greatest(len({_toks_sql('text')}), 1), 6) as mean_word_len,
                     round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                           / greatest(length(text), 1), 6) as punct_ratio,
                     md5({_norm_sql('text')}) as fp
              from documents),
            l as (select *, case when {best} <= 0 then 'und' {pred_cases} end
                             as pred_lang from s),
            t as (select doc_id, {_toks_sql('lower(text)')} as toks
                  from documents),
            m as (select doc_id, len(toks) as n, len(list_distinct(toks)) as nd,
                         case when len(toks) >= 2 then
                           list_transform(range(0, len(toks) - 1),
                             i -> array_to_string(toks[i+1:i+2], ' '))
                         else [] end as bg
                  from t),
            r as (select doc_id,
                         round(1.0 - nd::DOUBLE / greatest(n, 1), 6)
                           as dup_word_frac,
                         round(case when len(bg) > 0
                               then 1.0 - len(list_distinct(bg))::DOUBLE / len(bg)
                               else 0.0 end, 6) as dup_bigram_frac
                  from m),
            d as (select doc_id,
                         min(doc_id) over (partition by fp) as keep_id
                  from s),
            p0 as (select doc_id, text from documents),
            {_pii_ctes},
            pii as (select doc_id,
                           cast({" + ".join(_pii_hit_cols)} as int)
                             as pii_hits
                    from {_pii_final_stage}),
            flags as (
              select l.doc_id, l.pred_lang,
                     cast(l.n_tokens as int) as n_tokens,
                     cast(case when l.n_tokens >= 5
                               and l.mean_word_len between 2.0 and 12.0
                               and l.punct_ratio <= 0.3
                          then 1 else 0 end as int) as quality_keep,
                     cast(case when r.dup_word_frac <= 0.3
                               and r.dup_bigram_frac <= 0.2
                          then 1 else 0 end as int) as repetition_keep,
                     pii.pii_hits,
                     cast(case when d.doc_id != d.keep_id then 1 else 0 end
                          as int) as is_dup
              from l join r using (doc_id) join d on l.doc_id = d.doc_id
                    join pii on l.doc_id = pii.doc_id),
            curated as (
              select *,
                     case when n_tokens < 5 then 'too_short'
                          when n_tokens > 50000 then 'too_long'
                          when pred_lang not in ('en','de','es','fr','zh')
                               then 'bad_lang'
                          when quality_keep = 0 then 'low_quality'
                          when repetition_keep = 0 then 'repetitive'
                          when is_dup = 1 then 'duplicate'
                     end as drop_reason
              from flags)
    """

    return {
        "doc_filter_stats": """
            select lang,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(n_chars) as bigint) as sum_chars,
                   cast(max(n_chars) as bigint) as max_chars
            from documents where length(text) <= 134217728
            group by lang
        """,
        "doc_fingerprint": f"""
            select 'fp' as stage, doc_id,
                   md5({_norm_sql('text')}) as value
            from documents
            union all
            -- incremental-exact tier: the %3==0 new docs reuse history
            -- text verbatim (hit; id_hist = fp-group min id), the %3==1
            -- tailed docs match nothing (fixed testdata: no document
            -- text ends with the tail marker)
            select 'incr' as stage,
                   d.doc_id + 100000 as doc_id,
                   d.fp || ':' || cast(h.mn as varchar) as value
            from (select doc_id, md5({_norm_sql('text')}) as fp
                  from documents where doc_id % 3 = 0) d
            join (select md5({_norm_sql('text')}) as fp,
                         min(doc_id) as mn
                  from documents group by 1) h using (fp)
        """,
        "doc_exact_dedup": f"""
            select 'text' as stage,
                   md5({_norm_sql('text')}) as key,
                   cast(min(doc_id) as bigint) as keep_id,
                   cast(count(*) as bigint) as dup_count
            from documents group by 2
            union all
            -- the canonical URL derived analytically from doc_id (NOT by
            -- re-parsing the messy string): scheme/host lowercased, :443
            -- stripped, params sorted to a=1&b=2 with utm_*/fbclid
            -- dropped, fragment dropped, trailing slash stripped
            select 'url' as stage,
                   'https://www.site' || cast(doc_id % 40 as varchar)
                     || '.com/a/' || cast(doc_id % 25 as varchar)
                     || '?a=1&b=2' as key,
                   cast(min(doc_id) as bigint) as keep_id,
                   cast(count(*) as bigint) as dup_count
            from documents group by 2
        """,
        "doc_token_stats": f"""
            select lang, source,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(len({_toks_sql('text')})) as bigint) as total_tokens,
                   round(avg(len({_toks_sql('text')})), 4) as avg_tokens,
                   round(avg(length(text)), 4) as avg_chars,
                   cast(max(length(text)) as int) as max_chars
            from documents group by lang, source
        """,
        "host_stats": f"""
            -- per-host rollup (weburl.host_stats): quality_keep is the
            -- doc_quality heuristic verbatim; dup loser = not the min-id
            -- holder of the normalized-text md5 group (exact_dedup
            -- keeper choice); modal lang ties break bytewise ascending
            with f as (
              select doc_id, source as host, lang,
                     length(text) as chars,
                     md5({_norm_sql('text')}) as fp,
                     len({_toks_sql('text')}) as n_tokens,
                     round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                           / greatest(len({_toks_sql('text')}), 1), 6) as mwl,
                     round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                           / greatest(length(text), 1), 6) as pr
              from documents),
            d as (
              select f.*,
                     case when n_tokens >= 5 and mwl between 2.0 and 12.0
                               and pr <= 0.3 then 1 else 0 end as qk,
                     case when doc_id <> min(doc_id) over (partition by fp)
                          then 1 else 0 end as dl
              from f),
            agg as (
              select host, count(*) as n_docs, sum(chars) as n_chars,
                     round(avg(n_tokens::DOUBLE), 6) as mean_tokens,
                     round(1.0 - avg(qk::DOUBLE), 6) as quality_fail_share,
                     round(avg(dl::DOUBLE), 6) as dup_loser_share,
                     count(distinct lang) as n_langs
              from d group by host),
            lc as (select host, lang, count(*) as c from d group by 1, 2),
            tl as (select host, lang as top_lang, c,
                          row_number() over (partition by host
                                             order by c desc, lang asc) as rn
                   from lc)
            select a.host, cast(a.n_docs as bigint) as n_docs,
                   cast(a.n_chars as bigint) as n_chars,
                   a.mean_tokens, a.quality_fail_share, a.dup_loser_share,
                   cast(a.n_langs as bigint) as n_langs, t.top_lang,
                   round(t.c::DOUBLE / a.n_docs, 6) as top_lang_share,
                   cast(case when a.dup_loser_share <= 0.5
                                  and a.quality_fail_share <= 0.5
                             then 1 else 0 end as int) as host_keep
            from agg a join tl t on a.host = t.host and t.rn = 1
        """,
        "doc_quality": f"""
            with q as (
              select doc_id,
                     len({_toks_sql('text')}) as n_tokens,
                     length(text) as n_chars,
                     round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                           / greatest(len({_toks_sql('text')}), 1), 6) as mean_word_len,
                     round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                           / greatest(length(text), 1), 6) as punct_ratio,
                     round({sw['en']}::DOUBLE / greatest(len({_toks_sql('text')}), 1), 6)
                        as stopword_ratio,
                     -- C4 line-cleaning audit (r7): the same per-line
                     -- predicate as textstats._c4_kept_lines, RE2 side
                     text as doc_text,
                     str_split(text, chr(10)) as _lines,
                     list_filter(str_split(text, chr(10)),
                       ln -> regexp_matches(trim(ln), '[.!?"]$')
                             and len(regexp_split_to_array(trim(ln), '\\s+')) >= 5
                             and not regexp_matches(lower(ln), '\\bjavascript\\b')
                     ) as _kept
              from documents)
            select doc_id, cast(n_tokens as int) as n_tokens,
                   cast(n_chars as int) as n_chars,
                   mean_word_len, punct_ratio, stopword_ratio,
                   case when n_tokens >= 5 and mean_word_len between 2.0 and 12.0
                             and punct_ratio <= 0.3
                        then 1 else 0 end as quality_keep,
                   cast(len(_lines) as int) as lines_total,
                   cast(len(_kept) as int) as lines_kept,
                   -- duckdb's array_to_string yields NULL on an empty
                   -- list where Spark's array_join yields '' — coalesce
                   md5(coalesce(array_to_string(_kept, chr(10)), ''))
                     as clean_md5,
                   case when len(_kept) >= 3
                             and not contains(doc_text, '{{')
                             and not contains(lower(doc_text), 'lorem ipsum')
                        then 1 else 0 end as c4_page_keep
            from q
        """,
        "doc_curation": curation_flags_sql + """
            select doc_id, pred_lang, n_tokens, quality_keep,
                   repetition_keep, pii_hits, is_dup,
                   cast(case when drop_reason is null then 1 else 0 end as int)
                     as keep,
                   drop_reason
            from curated
        """,
        "doc_curation_summary": curation_flags_sql + """
            select coalesce(drop_reason, 'kept') as outcome,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(n_tokens) as bigint) as n_tokens
            from curated group by 1
        """,
        "doc_stream_dedup": f"""
            with u as (
              select doc_id, text from documents
              union all
              select doc_id + 100000, text from documents)
            select cast(min(doc_id) as bigint) as keep_id,
                   md5({_norm_sql('text')}) as fp
            from u group by 2
        """,
        "doc_sampling_stages": f"""
            with b as (
              select doc_id, lang,
                     ({_hex8_to_int_sql("substr(md5(doc_id || ':42'), 1, 8)")})
                       % 1000000 as bucket
              from documents),
            r as (select doc_id, lang, bucket,
                         row_number() over (partition by lang
                                            order by bucket, doc_id) as rk,
                         count(*) over (partition by lang) as n
                  from b)
            select doc_id, 'split' as stage,
                   case when bucket < 800000 then 'train'
                        when bucket < 900000 then 'val'
                        else 'test' end as value
            from b
            union all
            select doc_id, 'sample' as stage, lang as value from r
            where rk <= greatest(cast(ceil(n * 0.2) as bigint), 1)
            union all
            -- per-host cap: same synthesized url, survivors recomputed
            -- independently (raw-url bytewise rank within host, cap 10)
            select doc_id, 'host_cap' as stage,
                   'www.site' || cast(doc_id % 20 as varchar) || '.com'
                     as value
            from (
              select doc_id,
                     row_number() over (
                       partition by doc_id % 20
                       order by 'https://www.site'
                                || cast(doc_id % 20 as varchar)
                                || '.com/p/' || cast(doc_id as varchar)
                     ) as rn
              from documents)
            where rn <= 10
            union all
            -- per-row-rate deterministic downsample (weighted_sample,
            -- seed 7): keep iff md5-bucket < rate(lang) * 1e6
            select doc_id, 'weighted' as stage, lang as value
            from (
              select doc_id, lang,
                     ({_hex8_to_int_sql("substr(md5(doc_id || ':7'), 1, 8)")})
                       % 1000000 as bucket7
              from documents)
            where bucket7 < cast(1000000 * (case lang
                     when 'en' then 1.0 when 'de' then 0.5
                     when 'fr' then 0.25 when 'zh' then 0.1
                     when 'es' then 0.75 else 0.5 end) as bigint)
            union all
            -- keep_best: per exact-fp cluster keep the most-token member
            -- (tie: min doc_id); value = n_members:best_score
            select doc_id, 'keep_best' as stage,
                   cast(nm as varchar) || ':' || cast(bs as varchar)
                     as value
            from (
              select doc_id,
                     row_number() over (partition by fp
                        order by toks desc, doc_id) as rn,
                     count(*) over (partition by fp) as nm,
                     max(toks) over (partition by fp) as bs
              from (select doc_id, md5({_norm_sql('text')}) as fp,
                           len({_toks_sql('text')}) as toks
                    from documents))
            where rn = 1
        """,
        "doc_pii_scrub": f"""
            with p0 as (
              select doc_id,
                     text || ' contact user' || doc_id::varchar ||
                     '@example.com or 555-123-' ||
                     lpad((doc_id % 10000)::varchar, 4, '0') ||
                     ' from 10.0.' || (doc_id % 256)::varchar || '.1' ||
                     case when doc_id % 7 = 0
                          then ' ssn 123-45-6789 card 4111 1111 1111 1111'
                          else '' end as text
              from documents),
            {_pii_ctes}
            select doc_id, {", ".join(_pii_hit_cols)},
                   cast({" + ".join(_pii_hit_cols)} as int) as pii_hits,
                   md5({_pii_final_text}) as scrub_md5
            from {_pii_final_stage}
        """,
        "doc_decontam": """
            with toks as (
              select doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') as t
              from documents),
            grams as (
              select doc_id,
                     list_distinct(case when len(t) >= 13 then
                       list_transform(range(1, len(t) - 11),
                         i -> md5(array_to_string(t[i:i+12], ' ')))
                     else []::VARCHAR[] end) as g
              from toks),
            ev as (select distinct unnest(g) as h from grams
                   where doc_id < 25),
            ex as (
              select doc_id, len(g) as n_ngrams,
                     unnest(case when len(g) = 0
                            then [cast(NULL as VARCHAR)] else g end) as h
              from grams),
            stats as (
              select e.doc_id, max(e.n_ngrams) as n_ngrams,
                     sum(case when ev.h is not null then 1 else 0 end)
                       as n_collisions
              from ex e left join ev on e.h = ev.h
              group by e.doc_id)
            select doc_id, cast(n_ngrams as int) as n_ngrams,
                   cast(n_collisions as bigint) as n_collisions,
                   cast(case when n_collisions > 0 then 1 else 0 end as int)
                     as contaminated
            from stats
        """,
        "doc_lang_id": f"""
            with s as (
              select doc_id,
                     {lang_score_exprs['en']} as score_en,
                     {lang_score_exprs['de']} as score_de,
                     {lang_score_exprs['es']} as score_es,
                     {lang_score_exprs['fr']} as score_fr,
                     {zh_expr} as score_zh
              from documents)
            select doc_id, score_en, score_de, score_es, score_fr, score_zh,
                   case when {best} <= 0 then 'und' {pred_cases} end as pred_lang
            from s
        """,
        "doc_repetition": f"""
            with t as (select doc_id, {_toks_sql('lower(text)')} as toks
                       from documents),
            m as (select doc_id, toks, len(toks) as n,
                         len(list_distinct(toks)) as nd,
                         case when len(toks) >= 2 then
                           list_transform(range(0, len(toks) - 1),
                             i -> array_to_string(toks[i+1:i+2], ' '))
                         else [] end as bg
                  from t),
            r as (select doc_id,
                         cast(n as int) as n_tokens,
                         round(1.0 - nd::DOUBLE / greatest(n, 1), 6)
                           as dup_word_frac,
                         round(list_max(list_transform(list_distinct(toks),
                                 t2 -> len(list_filter(toks, x -> x = t2))))::DOUBLE
                               / greatest(n, 1), 6) as top_word_frac,
                         round(case when len(bg) > 0
                               then 1.0 - len(list_distinct(bg))::DOUBLE / len(bg)
                               else 0.0 end, 6) as dup_bigram_frac
                  from m)
            , g as (select doc_id,
                         -- Gopher doc-quality rules (r7), RE2 side of the
                         -- shared contract in textstats.gopher_quality_columns
                         len(regexp_split_to_array(trim(text), '\\s+')) as gn,
                         greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) as gnz,
                         round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                               / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6)
                           as g_mwl,
                         round(len(regexp_extract_all(text, '(#|…|\\.\\.\\.)'))::DOUBLE
                               / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6)
                           as symbol_word_ratio,
                         round(len(list_filter(str_split(text, chr(10)),
                                 ln -> regexp_matches(trim(ln), '^[•‣▪*-]')))::DOUBLE
                               / greatest(len(str_split(text, chr(10))), 1), 6)
                           as bullet_line_frac,
                         round(len(list_filter(str_split(text, chr(10)),
                                 ln -> regexp_matches(trim(ln), '(…|\\.\\.\\.)$')))::DOUBLE
                               / greatest(len(str_split(text, chr(10))), 1), 6)
                           as ellipsis_line_frac,
                         round(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
                               / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6)
                           as alpha_word_frac,
                         len(list_filter(['the','be','to','of','and','that','have','with'],
                               s -> list_contains(list_distinct(
                                      regexp_split_to_array(lower(text), '\\W+')), s)))
                           as gopher_stop_hits,
                         -- duplicate line/paragraph fractions: char side
                         -- is sum(all lens) - sum(distinct lens)
                         round(1.0 - len(list_distinct(str_split(text, chr(10))))::DOUBLE
                               / greatest(len(str_split(text, chr(10))), 1), 6)
                           as dup_line_frac,
                         round((list_sum(list_transform(str_split(text, chr(10)), x -> length(x)))
                                - list_sum(list_transform(list_distinct(str_split(text, chr(10))), x -> length(x))))::DOUBLE
                               / greatest(length(text), 1), 6)
                           as dup_line_char_frac,
                         round(1.0 - len(list_distinct(regexp_split_to_array(text, '\\n{{2,}}')))::DOUBLE
                               / greatest(len(regexp_split_to_array(text, '\\n{{2,}}')), 1), 6)
                           as dup_para_frac,
                         round((list_sum(list_transform(regexp_split_to_array(text, '\\n{{2,}}'), x -> length(x)))
                                - list_sum(list_transform(list_distinct(regexp_split_to_array(text, '\\n{{2,}}')), x -> length(x))))::DOUBLE
                               / greatest(length(text), 1), 6)
                           as dup_para_char_frac,
                         {_gopher_ngram_sql_cols()}
                  from documents)
            select r.doc_id, n_tokens, dup_word_frac, top_word_frac,
                   dup_bigram_frac,
                   cast(case when dup_word_frac <= 0.3
                             and dup_bigram_frac <= 0.2
                        then 1 else 0 end as int) as repetition_keep,
                   symbol_word_ratio, bullet_line_frac, ellipsis_line_frac,
                   alpha_word_frac, cast(gopher_stop_hits as int) as gopher_stop_hits,
                   dup_line_frac, dup_line_char_frac,
                   dup_para_frac, dup_para_char_frac,
                   top_2gram_char_frac, top_3gram_char_frac,
                   top_4gram_char_frac, dup_5gram_char_frac,
                   dup_6gram_char_frac, dup_7gram_char_frac,
                   dup_8gram_char_frac, dup_9gram_char_frac,
                   dup_10gram_char_frac,
                   cast(case when gn between 50 and 100000
                             and g_mwl between 3.0 and 10.0
                             and symbol_word_ratio <= 0.1
                             and bullet_line_frac <= 0.9
                             and ellipsis_line_frac <= 0.3
                             and alpha_word_frac >= 0.8
                             and gopher_stop_hits >= 2
                        then 1 else 0 end as int) as gopher_quality_keep
            from r join g on r.doc_id = g.doc_id
        """,
        "top_terms_by_lang": f"""
            with t as (
              select lang, u.term, cast(count(*) as bigint) as n
              from documents, unnest({_toks_sql('text')}) as u(term)
              where length(u.term) > 0
              group by lang, u.term),
            r as (select lang, term, n,
                         row_number() over (partition by lang order by n desc, term) as rank
                  from t)
            select lang, term, n, cast(rank as int) as rank from r where rank <= 5
        """,
        "doc_minhash_stages": f"""
            with d as (select doc_id, {_toks_sql('text')} as toks from documents),
            s as (select doc_id, {_SHINGLES3} as sh from d),
            p as (select doc_id, {_ab_sql()} as ab from s),
            g as (select doc_id, {_minhash_sig_sql(16)} as sig from p),
            b as (select doc_id, {_bands_sql(4, 4)} as bands from g),
            -- incremental tier: recompute the NEW batch's sigs/bands from
            -- scratch (same construction as the Spark query), candidates
            -- by band intersection vs history, est = agreeing components
            -- / 16 (micro-int: m * 62500)
            n0 as (select doc_id + 100000 as doc_id,
                          case when doc_id % 3 = 0 then text
                               else text || ' incremental fresh tail'
                          end as text
                   from documents where doc_id % 3 != 2),
            nd as (select doc_id, {_toks_sql('text')} as toks from n0),
            ns as (select doc_id, {_SHINGLES3} as sh from nd),
            np as (select doc_id, {_ab_sql()} as ab from ns),
            ng as (select doc_id, {_minhash_sig_sql(16)} as sig from np),
            nb as (select doc_id, {_bands_sql(4, 4)} as bands from ng),
            hrows as (select b.doc_id, unnest(b.bands) as band from b),
            nrows as (select nb.doc_id, unnest(nb.bands) as band from nb),
            cand as (select distinct n.doc_id as id_new, h.doc_id as id_hist
                     from nrows n join hrows h using (band)),
            est as (select c.id_new, c.id_hist,
                           len(list_filter(range(1, 17),
                               i -> ng.sig[i] = g.sig[i])) as m
                    from cand c
                    join ng on ng.doc_id = c.id_new
                    join g on g.doc_id = c.id_hist)
            select doc_id, 'sig' as stage, cast(-1 as int) as band_no,
                   array_to_string(sig, ',') as value
            from g
            union all
            select b.doc_id, 'band' as stage, cast(r.i as int) as band_no,
                   b.bands[r.i + 1] as value
            from b cross join (values (0), (1), (2), (3)) as r(i)
            union all
            select id_new as doc_id, 'incr' as stage,
                   cast(-1 as int) as band_no,
                   cast(id_hist as varchar) || ':' ||
                     cast(m * 62500 as varchar) as value
            from est where m >= 4
            union all
            -- (r7 late) the verified LSH pair stage, micro-jaccard
            -- packed as an exact integer (round6 value × 1e6)
            select id_a as doc_id, 'pair' as stage,
                   cast(-1 as int) as band_no,
                   cast(id_b as varchar) || ':' ||
                     cast(cast(round(jaccard * 1000000, 0) as bigint)
                          as varchar) as value
            from ({_minhash_pairs_oracle()})
        """,
        "dup_clusters": f"""
            with recursive pairs as ({_minhash_pairs_oracle()}),
            edges as (select id_a as a, id_b as b from pairs
                      union
                      select id_b, id_a from pairs),
            nodes as (select distinct a as node from edges),
            reach(node, r) as (
              select node, node from nodes
              union
              select e.a, r.r from edges e join reach r on e.b = r.node)
            select node as doc_id, cast(min(r) as bigint) as cluster_id
            from reach group by node
        """,
        "doc_seg_dedup": f"""
            with t as (select doc_id, {_toks_sql('text')} as toks
                       from documents),
            built as (select doc_id,
                        'copyright fixture boilerplate all rights reserved'
                        || chr(10) ||
                        array_to_string(
                          list_transform(
                            range(0, cast(ceil(len(toks) / 10.0) as int)),
                            i -> array_to_string(toks[i*10+1 : i*10+10], ' ')),
                          chr(10)) as text2
                      from t),
            lists as (select doc_id, string_split(text2, chr(10)) as l
                      from built),
            seg0 as (select doc_id,
                            unnest(list_transform(range(len(l)),
                              i -> {{'pos': i, 'seg': l[i + 1]}})) as u
                     from lists),
            segs as (select doc_id, cast(u.pos as int) as pos, u.seg as seg
                     from seg0),
            counts as (select seg, count(distinct doc_id) as nd
                       from segs group by seg),
            tagged as (select s.doc_id, s.pos, s.seg, c.nd
                       from segs s join counts c using (seg))
            select doc_id,
                   cast(sum(case when nd < 2 then 1 else 0 end) as bigint)
                     as n_kept,
                   cast(sum(case when nd >= 2 then 1 else 0 end) as bigint)
                     as n_dropped,
                   md5(coalesce(
                     string_agg(seg, chr(10) order by pos)
                       filter (where nd < 2), '')) as clean_md5
            from tagged group by doc_id
        """,
        "doc_ngram_jaccard": f"""
            with d as (select doc_id, source,
                              list_distinct({_toks_sql('text')}) as sh
                       from documents)
            select a.source, a.doc_id as id_a, b.doc_id as id_b,
                   round(len(list_intersect(a.sh, b.sh))::DOUBLE
                         / len(list_distinct(list_concat(a.sh, b.sh))), 6) as jaccard
            from d a join d b on a.source = b.source and a.doc_id < b.doc_id
            where len(list_intersect(a.sh, b.sh))::DOUBLE
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        """,
        "doc_simhash_stages": f"""
            with s as (
              with d as (select doc_id,
                                list_distinct({_toks_sql("lower(text)")}) as toks
                         from documents),
              h as (select doc_id,
                           list_transform(toks, t -> {_hex8_to_int_sql('substr(md5(t),1,8)')}) as h1,
                           list_transform(toks, t -> {_hex8_to_int_sql('substr(md5(t),9,8)')}) as h2
                    from d)
              select doc_id,
                (select cast(sum(case when cnt > 0 then (1::BIGINT << b) else 0 end) as bigint)
                 from (select b, sum(case when ((hv >> b) & 1) = 1 then 1 else -1 end) as cnt
                       from unnest(h.h1) as t(hv), unnest(range(0,32)) as r(b) group by b))
                 as simhash_hi,
                (select cast(sum(case when cnt > 0 then (1::BIGINT << b) else 0 end) as bigint)
                 from (select b, sum(case when ((hv >> b) & 1) = 1 then 1 else -1 end) as cnt
                       from unnest(h.h2) as t(hv), unnest(range(0,32)) as r(b) group by b))
                 as simhash_lo
              from h),
            c as (select doc_id, simhash_hi, simhash_lo, unnest([
                    '0' || ':' || ((simhash_hi >> 0)  & 65535)::varchar,
                    '1' || ':' || ((simhash_hi >> 16) & 65535)::varchar,
                    '2' || ':' || ((simhash_lo >> 0)  & 65535)::varchar,
                    '3' || ':' || ((simhash_lo >> 16) & 65535)::varchar
                  ]) as chunk from s),
            -- hot-band guard mirror (dedup.DEFAULT_MAX_BAND_SIZE)
            ok as (select chunk from c group by chunk having count(*) <= 1024),
            cc as (select c.doc_id, c.simhash_hi, c.simhash_lo, c.chunk
                   from c join ok using (chunk)),
            cand as (select distinct a.doc_id as id_a, b.doc_id as id_b,
                            a.simhash_hi as hi_a, a.simhash_lo as lo_a,
                            b.simhash_hi as hi_b, b.simhash_lo as lo_b
                     from cc a join cc b
                       on a.chunk = b.chunk and a.doc_id < b.doc_id)
            select doc_id, 'sig' as stage,
                   cast(simhash_hi as varchar) || ':' ||
                     cast(simhash_lo as varchar) as value
            from s
            union all
            select id_a as doc_id, 'pair' as stage,
                   cast(id_b as varchar) || ':' ||
                     cast(cast(bit_count(xor(hi_a, hi_b))
                               + bit_count(xor(lo_a, lo_b)) as int)
                          as varchar) as value
            from cand
            where bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
        """,
        "doc_char_lm": """
            -- CCNet-style char-bigram LM (operators/lm.py numerics
            -- contract): fixed 38-char alphabet, add-one smoothing,
            -- micro-nat quantized log-probs summed as exact integers
            with n as (
              select doc_id,
                     regexp_replace(lower(text), '[^a-z0-9 ]', '#', 'g')
                       as t
              from documents),
            bg as (
              select doc_id,
                     unnest(list_transform(
                       range(1, length(t)),
                       i -> substr(t, cast(i as int), 2))) as b
              from n),
            m as (select b, count(*) as c from bg group by b),
            ctx as (select substr(b, 1, 1) as a, sum(c) as ca
                    from m group by 1),
            model as (
              select m.b,
                     cast(round(ln((m.c + 1.0) / (ctx.ca + 38.0))
                                * 1000000, 0) as bigint) as lmic
              from m join ctx on substr(m.b, 1, 1) = ctx.a),
            sc as (
              select bg.doc_id, count(*) as nb,
                     cast(-sum(model.lmic) as bigint) as nll
              from bg join model using (b)
              group by bg.doc_id),
            res as (
              select d.doc_id,
                     coalesce(sc.nb, 0) as n_bigrams,
                     coalesce(sc.nll, 0) as nll_micro,
                     round(sc.nll / 1000000.0 / sc.nb, 6) as ce_nats,
                     round(exp(sc.nll / 1000000.0 / sc.nb), 4) as ppl
              from documents d left join sc using (doc_id)),
            -- CCNet head/middle/tail terciles: quantile_cont and
            -- Spark's percentile share the (n-1)*q linear-interpolation
            -- definition over the same 6dp-rounded doubles
            q as (select quantile_cont(ce_nats, [1.0/3, 2.0/3]) as qq
                  from res)
            select res.doc_id, res.n_bigrams, res.nll_micro,
                   res.ce_nats, res.ppl,
                   case when res.ce_nats is null then 'tail'
                        when res.ce_nats <= q.qq[1] then 'head'
                        when res.ce_nats <= q.qq[2] then 'middle'
                        else 'tail' end as tier
            from res cross join q
        """,
        "doc_quality_clf": f"""
            -- NB quality classifier (operators/clf.py numerics
            -- contract): md5-bucketed distinct-token presence features,
            -- Laplace-smoothed micro-nat log-odds quantized per class
            -- THEN subtracted as integers, weak label = quality_keep
            with base as (
              select doc_id, text,
                     len({_toks_sql('text')}) as n_tokens,
                     round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                           / greatest(len({_toks_sql('text')}), 1), 6) as mwl,
                     round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                           / greatest(length(text), 1), 6) as pr
              from documents),
            d as (
              select doc_id,
                     case when n_tokens >= 5 and mwl between 2.0 and 12.0
                               and pr <= 0.3 then 1 else 0 end as y,
                     list_distinct(list_transform(
                       list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')),
                       t -> cast(({_hex8_to_int_sql('md5(t)')}) % 4096 as int)
                     )) as bs
              from base),
            ex as (select y, unnest(bs) as b from d),
            cnt as (select b,
                           sum(case when y = 1 then 1 else 0 end) as c1,
                           sum(case when y = 0 then 1 else 0 end) as c0
                    from ex group by b),
            tot as (select sum(y) as n1, count(*) - sum(y) as n0 from d),
            w as (select b,
                         cast(round(ln((c1 + 1.0) / (n1 + 2.0)) * 1000000, 0) as bigint)
                       - cast(round(ln((c0 + 1.0) / (n0 + 2.0)) * 1000000, 0) as bigint)
                           as wv
                  from cnt, tot),
            pri as (select cast(round(ln((n1 + 1.0) / (n0 + 1.0)) * 1000000, 0)
                                as bigint) as p
                    from tot),
            db as (select doc_id, unnest(bs) as b from d),
            ssum as (select db.doc_id, sum(w.wv) as s
                     from db join w using (b) group by db.doc_id)
            select d.doc_id, cast(len(d.bs) as int) as n_feats,
                   cast(pri.p + coalesce(ssum.s, 0) as bigint) as score_micro,
                   cast(case when pri.p + coalesce(ssum.s, 0) >= 0
                             then 1 else 0 end as int) as pred,
                   cast(d.y as int) as label
            from d cross join pri left join ssum using (doc_id)
        """,
        "media_detector_plan": f"""
            -- generate_scale (vision_prep.py / operators.py:253-275):
            -- min-side fit capped by the max side, banker's rounding
            -- (round_even) exactly as numpy/python round
            with dims as (
              select doc_id as media_id,
                     cast(64 + {_md5_byte_sql('text', 1)} * 4 as int) as h,
                     cast(64 + {_md5_byte_sql('text', 0)} * 4 as int) as w
              from documents),
            sc as (
              select media_id, h, w,
                     case when round_even(
                              (800.0 / least(h, w)) * greatest(h, w), 0)
                              > 800
                          then 800.0 / greatest(h, w)
                          else 800.0 / least(h, w) end as s
              from dims),
            rs as (
              select media_id, h, w, s,
                     cast(round_even(h * s, 0) as int) as out_h,
                     cast(round_even(w * s, 0) as int) as out_w
              from sc)
            select media_id, h as in_h, w as in_w,
                   cast(greatest(ceil(out_h / 32.0) * 32, 32) as int)
                     as tensor_h,
                   cast(greatest(ceil(out_w / 32.0) * 32, 32) as int)
                     as tensor_w,
                   round(s, 6) as scale_y, round(s, 6) as scale_x
            from rs
        """,
        "media_meta_frames": f"""
            select 'meta' as part, doc_id as media_id,
                   case when doc_id % 3 = 0 then 'image'
                        when doc_id % 3 = 1 then 'audio'
                        else 'video' end as kind,
                   cast(strlen(text) as bigint) as n_bytes,
                   cast(64 + {_md5_byte_sql('text', 0)} * 4 as int) as width,
                   cast(64 + {_md5_byte_sql('text', 1)} * 4 as int) as height,
                   cast(case when doc_id % 3 = 0 then 1
                             else 1 + {_md5_byte_sql('text', 2)} % 300 end as int)
                     as n_frames,
                   cast(-1 as int) as frame_no
            from documents
            union all
            select 'frame' as part, m.media_id,
                   cast(null as varchar) as kind,
                   cast(null as bigint) as n_bytes,
                   cast(null as int) as width,
                   cast(null as int) as height,
                   cast(null as int) as n_frames,
                   cast(u.f as int) as frame_no
            from (
              select doc_id as media_id,
                     case when doc_id % 3 = 0 then 1
                          else 1 + {_md5_byte_sql('text', 2)} % 300 end as n_frames
              from documents) m, unnest(range(0, m.n_frames, 30)) u(f)
            where m.n_frames > 0
        """,
        "emb_cosine_topk": """
            with q as (select embedding as qv from embeddings where vec_id = 0)
            select vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) as cos
            from embeddings e, q
            order by cos desc, vec_id limit 10
        """,
        # the composed IVF→PQ→re-rank path is graded against BRUTE FORCE:
        # hash equality == recall 1.0 (the shortlist never lost a true
        # neighbor) AND the exact tier reproduces the true scores
        "emb_ivf_pq_topk": """
            with q as (select embedding as qv from embeddings where vec_id = 0)
            select vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) as cos
            from embeddings e, q
            order by cos desc, vec_id limit 10
        """,
        "emb_near_dup": """
            select a.vec_id as id_a, b.vec_id as id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) as cos
            from embeddings a join embeddings b
              on a.label = b.label and a.vec_id < b.vec_id
            where round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
        """,
        "emb_ivf_topk": """
            with cents as (
              select row_number() over (order by vec_id) as cluster_id,
                     embedding as centroid
              from (select * from embeddings order by vec_id limit 8)),
            assigned as (
              select e.vec_id, e.embedding, c.cluster_id,
                     row_number() over (partition by e.vec_id
                        order by list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) desc,
                                 c.cluster_id) as rn
              from embeddings e cross join cents c),
            idx as (select vec_id, embedding, cluster_id from assigned where rn = 1),
            q as (select embedding as qv from embeddings where vec_id = 0),
            probe as (
              select cluster_id from cents, q
              order by list_cosine_similarity(centroid::DOUBLE[], qv::DOUBLE[]) desc, cluster_id
              limit 2)
            select i.vec_id,
                   round(list_cosine_similarity(i.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) as cos
            from idx i join probe p on i.cluster_id = p.cluster_id, q
            order by cos desc, i.vec_id limit 10
        """,
        "emb_kmeans_stages": """
            with cents as (
              select row_number() over (order by vec_id) as cluster_id,
                     embedding::DOUBLE[] as centroid
              from (select * from embeddings order by vec_id limit 8)),
            a0 as (
              select e.vec_id, e.embedding, c.cluster_id,
                     row_number() over (partition by e.vec_id
                        order by list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) desc,
                                 c.cluster_id) as rn
              from embeddings e cross join cents c),
            idx0 as (select vec_id, embedding, cluster_id from a0 where rn = 1),
            dims as (select cluster_id, r.i as dim,
                            avg(embedding[r.i]::DOUBLE) as mean_val
                     from idx0, range(1, 65) r(i)
                     group by cluster_id, r.i),
            refined as (select cluster_id,
                               list(mean_val order by dim) as centroid
                        from dims group by cluster_id),
            a1 as (
              select e.vec_id, c.cluster_id,
                     row_number() over (partition by e.vec_id
                        order by list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) desc,
                                 c.cluster_id) as rn
              from embeddings e cross join refined c)
            select 'assign' as stage, cast(cluster_id as int) as cluster_id,
                   cast(count(*) as bigint) as n_vecs
            from idx0 where 1 = 1 group by cluster_id
            union all
            select 'refined' as stage, cast(cluster_id as int) as cluster_id,
                   cast(count(*) as bigint) as n_vecs
            from a1 where rn = 1 group by cluster_id
        """,
        "emb_pq_stages": f"""
            with {_PQ_CTES},
            q as (select embedding::DOUBLE[] as qv from embeddings
                  where vec_id = 0),
            qd as (select s.j, s.cid,
                          list_sum(list_transform(range(1, 17),
                            i -> (q.qv[s.j*16 + i] - s.sv[i])
                               * (q.qv[s.j*16 + i] - s.sv[i]))) as dist
                   from subc s, q),
            sel as (select b.vec_id, b.j, qd.dist
                    from best b join qd using (j, cid) where b.rn = 1),
            adc as (select vec_id,
                           round(list_sum(list(dist order by j)), 6) as adc
                    from sel group by vec_id)
            select 'code' as stage, vec_id,
                   array_to_string(codes, ',') as code,
                   cast(null as double) as adc
            from codes
            union all
            select 'topk' as stage, vec_id, cast(null as varchar) as code,
                   adc
            from (select vec_id, adc from adc
                  order by adc, vec_id limit 10)
        """,
        "emb_ivf_pq_recall": """
            with q as (select embedding as qv from embeddings where vec_id = 0)
            select vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) as cos,
                   cast(1 as int) as found
            from embeddings e, q
            order by cos desc, vec_id limit 10
        """,
        "table_typing": _table_typing_oracle(),
        "table_row_chunks": """
            with src as (
              select l_orderkey, l_linenumber, l_extendedprice,
                     l_shipdate, l_returnflag,
                     row_number() over (
                         order by l_orderkey, l_linenumber,
                                  l_extendedprice, l_shipdate,
                                  l_returnflag) - 1 as rn
              from (select * from lineitem
                    order by l_orderkey, l_linenumber, l_extendedprice,
                             l_shipdate, l_returnflag limit 60)
            )
            select cast(rn // 15 as int) as doc_no,
                   cast(rn % 15 as int) as row_idx,
                   concat('orderkey:', l_orderkey,
                          '; linenumber:', l_linenumber,
                          '; price:', cast(cast(round(l_extendedprice, 2) as double) as varchar),
                          '; shipdate:', strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'),
                          '; flag:', l_returnflag) as row_text
            from src
        """,
        "pdf_table_cells": """
            with src as (
              select row_number() over (order by l_orderkey, l_linenumber) - 1
                       as idx,
                     l_orderkey, l_linenumber, l_extendedprice, l_shipdate,
                     l_returnflag
              from (select * from lineitem
                    order by l_orderkey, l_linenumber limit 40)),
            hdr as (
              select cast(t.d as int) as doc_no, 1 as table_no,
                     printf('Table %d: lineitem sample', t.d + 1) as caption,
                     0 as rn, v.cn, v.cell
              from range(4) t(d),
                   (values (0, 'orderkey'), (1, 'linenumber'), (2, 'price'),
                           (3, 'shipdate'), (4, 'flag')) v(cn, cell)),
            cells as (
              select cast(idx // 10 as int) as doc_no, 1 as table_no,
                     printf('Table %d: lineitem sample', idx // 10 + 1)
                       as caption,
                     cast(idx % 10 + 1 as int) as rn, v.cn, v.cell
              from src,
                   lateral (values
                     (0, l_orderkey::varchar),
                     (1, l_linenumber::varchar),
                     (2, printf('%.2f', l_extendedprice)),
                     (3, strftime(l_shipdate, '%Y-%m-%d')),
                     (4, l_returnflag)) v(cn, cell))
            select doc_no, table_no, caption, rn, cast(cn as int) as cn, cell
            from (select * from hdr union all select * from cells)
        """,
        "emb_lsh_stages": f"""
            select 'bucket' as part, h.bucket,
                   cast(null as bigint) as id_a, cast(null as bigint) as id_b,
                   h.n_vecs, cast(null as double) as cos
            from ({_hyperplane_oracle()}) h
            union all
            select 'pair' as part, p.bucket, p.id_a, p.id_b,
                   cast(null as bigint) as n_vecs, p.cos
            from ({_near_dup_lsh_oracle()}) p
        """,
        "events_stages": """
            with g as (
              select user_id, ts, value,
                     case when epoch(ts) - lag(epoch(ts))
                               over (partition by user_id order by ts) > 1800
                          or lag(ts) over (partition by user_id order by ts) is null
                          then 1 else 0 end as new_session
              from events),
            s as (select user_id, ts, value,
                         sum(new_session) over (partition by user_id order by ts
                            rows between unbounded preceding and current row) as session_seq
                  from g)
            select 'hourly' as stage, event_type as grp,
                   date_trunc('hour', ts) as ts_a,
                   cast(null as timestamp) as ts_b,
                   cast(count(*) as bigint) as n_events,
                   round(sum(value), 4) as sum_value
            from events group by 2, 3
            union all
            select 'session' as stage,
                   cast(user_id as varchar) || ':'
                     || cast(session_seq as varchar) as grp,
                   min(ts) as ts_a, max(ts) as ts_b,
                   cast(count(*) as bigint) as n_events,
                   round(sum(value), 4) as sum_value
            from s group by user_id, session_seq
        """,
        "doc_pack_windows": f"""
            -- concat-and-chunk packing plan, ctx_len=256: running token
            -- offsets in ascending doc_id order, then one row per window
            -- the doc overlaps (generate_series is inclusive)
            with t as (
              select doc_id,
                     cast(len({_toks_sql('text')}) as bigint) as toks
              from documents),
            c as (
              select doc_id, toks,
                     cast(coalesce(sum(toks) over (order by doc_id
                        rows between unbounded preceding and 1 preceding),
                        0) as bigint) as off
              from t where toks > 0),
            x as (
              select doc_id, toks, off,
                     unnest(generate_series(off // 256,
                                            (off + toks - 1) // 256)) as w
              from c)
            select cast(w as bigint) as window_id, doc_id,
                   cast(greatest(0, w * 256 - off) as bigint)
                     as doc_tok_start,
                   cast(least(toks, (w + 1) * 256 - off) as bigint)
                     as doc_tok_end,
                   cast(greatest(0, off - w * 256) as bigint)
                     as win_tok_start
            from x
        """,
        "events_stream_stages": """
            -- both streaming parity contracts in one union:
            -- hourly: append mode emits exactly the windows CLOSED by
            -- the final watermark (max ts - 2h); a window [s, s+1h) is
            -- closed when s+1h <= watermark.
            -- session: only sessions CLOSED by a later event are
            -- emitted, i.e. everything but each user's trailing session
            with hourly as (
              select date_trunc('hour', ts) as window_start, event_type,
                     cast(count(*) as bigint) as n_events,
                     round(sum(value), 4) as sum_value
              from events
              group by 1, 2
              having date_trunc('hour', ts) + interval 1 hour
                     <= (select max(ts) from events) - interval 2 hours
            ),
            g as (
              select user_id, ts, value,
                     case when epoch(ts) - lag(epoch(ts))
                               over (partition by user_id order by ts) > 1800
                          or lag(ts) over (partition by user_id order by ts) is null
                          then 1 else 0 end as new_session
              from events),
            s as (select user_id, ts, value,
                         sum(new_session) over (partition by user_id order by ts
                            rows between unbounded preceding and current row) as session_seq
                  from g),
            agg as (select user_id, session_seq,
                           min(ts) as session_start, max(ts) as session_end,
                           cast(count(*) as bigint) as n_events,
                           round(sum(value), 4) as sum_value
                    from s group by user_id, session_seq),
            sess as (
              select user_id, session_start, session_end, n_events, sum_value
              from agg
              where session_seq < (select max(session_seq) from agg a2
                                   where a2.user_id = agg.user_id))
            select 'hourly' as stage, event_type as grp,
                   window_start as ts_a, cast(null as timestamp) as ts_b,
                   n_events, sum_value
            from hourly
            union all
            select 'session', cast(user_id as varchar), session_start,
                   session_end, n_events, sum_value
            from sess
        """,
        "web_linkgraph_stages": """
            -- the anchor corpus is pure modular arithmetic over doc_id,
            -- so the oracle rebuilds the host edges WITHOUT parsing
            -- HTML: any error in the Spark-side regexp harvest, href
            -- resolution or canonicalization breaks the edge rows, and
            -- the unrolled BIGINT power iteration (floor division //,
            -- exactly Spark's div) pins the pagerank stage bit-exact
            with d as (select cast(doc_id as bigint) as d from documents),
            links as (
              select 'h' || cast((d*7)%20 as varchar) || '.example.com' as src,
                     'h' || cast((d*13+1)%20 as varchar) || '.example.com' as dst
              from d
              union all
              select 'h' || cast((d*7)%20 as varchar) || '.example.com',
                     'h' || cast((d*13+2)%20 as varchar) || '.example.com'
              from d
              union all -- the root-relative anchor resolves to a self edge
              select 'h' || cast((d*7)%20 as varchar) || '.example.com',
                     'h' || cast((d*7)%20 as varchar) || '.example.com'
              from d
              union all -- every 10th doc links the sink host (dangling)
              select 'h' || cast((d*7)%20 as varchar) || '.example.com',
                     'h20.example.com'
              from d where d % 10 = 0
            ),
            edges as (select src, dst, cast(count(*) as bigint) as w
                      from links group by 1, 2),
            nodes as (select distinct h from
                      (select src as h from edges
                       union all select dst from edges)),
            nn as (select cast(count(*) as bigint) as n from nodes),
            outw as (select src, sum(w) as ow from edges group by 1),
            r0 as (select h, cast(1000000000 as bigint) // (select n from nn) as r
                   from nodes),
            d1 as (select coalesce(sum(r), 0) as dm from r0
                   where h not in (select src from outw)),
            c1 as (select e.dst as h, sum((r.r * e.w) // o.ow) as c
                   from edges e join r0 r on r.h = e.src
                   join outw o on o.src = e.src group by 1),
            r1 as (select n.h,
                     (cast(1000000000 as bigint) * 15) // (100 * (select n from nn))
                     + (85 * (coalesce(c.c, 0)
                              + (select dm from d1) // (select n from nn)))
                       // 100 as r
                   from nodes n left join c1 c on c.h = n.h),
            d2 as (select coalesce(sum(r), 0) as dm from r1
                   where h not in (select src from outw)),
            c2 as (select e.dst as h, sum((r.r * e.w) // o.ow) as c
                   from edges e join r1 r on r.h = e.src
                   join outw o on o.src = e.src group by 1),
            r2 as (select n.h,
                     (cast(1000000000 as bigint) * 15) // (100 * (select n from nn))
                     + (85 * (coalesce(c.c, 0)
                              + (select dm from d2) // (select n from nn)))
                       // 100 as r
                   from nodes n left join c2 c on c.h = n.h),
            d3 as (select coalesce(sum(r), 0) as dm from r2
                   where h not in (select src from outw)),
            c3 as (select e.dst as h, sum((r.r * e.w) // o.ow) as c
                   from edges e join r2 r on r.h = e.src
                   join outw o on o.src = e.src group by 1),
            r3 as (select n.h,
                     (cast(1000000000 as bigint) * 15) // (100 * (select n from nn))
                     + (85 * (coalesce(c.c, 0)
                              + (select dm from d3) // (select n from nn)))
                       // 100 as r
                   from nodes n left join c3 c on c.h = n.h),
            degs as (select n.h,
                       coalesce((select sum(w) from edges e
                                 where e.src = n.h), 0) as out_w,
                       coalesce((select sum(w) from edges e
                                 where e.dst = n.h), 0) as in_w
                     from nodes n)
            select 'edge' as stage, src as a, dst as b, w as n from edges
            union all
            select 'outdeg', h, cast(null as varchar), cast(out_w as bigint)
            from degs
            union all
            select 'indeg', h, cast(null as varchar), cast(in_w as bigint)
            from degs
            union all
            select 'rank', h, cast(null as varchar), cast(r as bigint)
            from r3
            union all -- anchor texts: a/b/c on every page, s on every
                      -- 10th; javascript: and fragment-only anchors
                      -- must not be counted
            select 'anchor', t.t, cast(null as varchar),
                   cast(count(*) as bigint)
            from d cross join (values ('a'), ('b'), ('c')) t(t)
            group by t.t
            union all
            select 'anchor', 's', cast(null as varchar),
                   cast(count(*) as bigint)
            from d where d % 10 = 0
        """,
        "tpch_stages": """
            with p as (
              select l_returnflag, l_linestatus,
                     round(sum(l_quantity), 2) as sum_qty,
                     round(sum(l_extendedprice), 2) as sum_base_price,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
                     round(avg(l_quantity), 4) as avg_qty,
                     cast(count(*) as bigint) as count_order
              from lineitem
              where l_shipdate <= timestamp '1998-09-02'
              group by l_returnflag, l_linestatus),
            r as (
              select n_name,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
                     cast(count(*) as bigint) as n_items
              from lineitem
              join orders on l_orderkey = o_orderkey
              join customer on o_custkey = c_custkey
              join nation on c_nationkey = n_nationkey
              group by n_name)
            select 'pricing' as stage, l_returnflag as k1,
                   l_linestatus as k2, 'sum_qty' as metric,
                   sum_qty as value from p
            union all
            select 'pricing', l_returnflag, l_linestatus,
                   'sum_base_price', sum_base_price from p
            union all
            select 'pricing', l_returnflag, l_linestatus,
                   'sum_disc_price', sum_disc_price from p
            union all
            select 'pricing', l_returnflag, l_linestatus,
                   'avg_qty', avg_qty from p
            union all
            select 'pricing', l_returnflag, l_linestatus,
                   'count_order', cast(count_order as double) from p
            union all
            select 'revenue', n_name, cast(null as varchar),
                   'revenue', revenue from r
            union all
            select 'revenue', n_name, cast(null as varchar),
                   'n_items', cast(n_items as double) from r
        """,
        "doc_dsir": f"""
            -- DSIR (hashed unigram+bigram buckets, B=1024, k=100,
            -- seed 42): target = lang='en' docs, raw = all docs;
            -- λ in micro-nats, one ln per bucket, half-away rounding —
            -- the lm.py exact-integer contract
            with rawt as (
              select doc_id,
                     regexp_split_to_array(trim(lower(text)), '\\s+') as t
              from documents),
            rg as (
              select doc_id, unnest(list_concat(t,
                       case when len(t) >= 2 then
                         list_transform(range(1, len(t)),
                                        i -> t[i] || ' ' || t[i + 1])
                       else [] end)) as g
              from rawt),
            rb as (
              select doc_id,
                     ({_hex8_to_int_sql("substr(md5(g), 1, 8)")})
                       % 1024 as bucket
              from rg),
            tb as (
              select rb.bucket
              from rb join documents d using (doc_id)
              where d.lang = 'en'),
            cq as (select bucket, cast(count(*) as bigint) as n
                   from rb group by bucket),
            cp as (select bucket, cast(count(*) as bigint) as n
                   from tb group by bucket),
            tot as (select (select coalesce(sum(n), 0) from cp) as np,
                           (select coalesce(sum(n), 0) from cq) as nq),
            lam as (
              select coalesce(cp.bucket, cq.bucket) as bucket,
                     coalesce(cp.n, 0) as c_p, coalesce(cq.n, 0) as c_q,
                     cast(round(ln(
                       ((coalesce(cp.n, 0) + 1)
                          / cast(tot.np + 1024 as double))
                       / ((coalesce(cq.n, 0) + 1)
                          / cast(tot.nq + 1024 as double))
                     ) * 1e6) as bigint) as lambda_micro
              from cp full outer join cq using (bucket), tot),
            w as (
              select rb.doc_id,
                     cast(count(*) as bigint) as n_grams,
                     cast(sum(lam.lambda_micro) as bigint) as weight_micro
              from rb join lam using (bucket)
              group by rb.doc_id),
            keyed as (
              select doc_id, n_grams, weight_micro,
                     weight_micro + cast(round(
                       -ln(-ln((({_hex8_to_int_sql(
                           "substr(md5(doc_id || ':42'), 1, 8)")})
                           % 1000000 + 0.5) / 1000000.0)) * 1e6)
                       as bigint) as key_micro
              from w)
            select 'ratio' as stage, cast(bucket as bigint) as k,
                   c_p as v1, c_q as v2, lambda_micro as v3
            from lam
            union all
            select 'weight', doc_id, n_grams, weight_micro, key_micro
            from keyed
            union all
            select * from (
              select 'select' as stage, doc_id as k,
                     cast(null as bigint) as v1,
                     cast(null as bigint) as v2, key_micro as v3
              from keyed
              order by key_micro desc, doc_id
              limit 100)
        """,
        # Winnowing oracle: the rolling k-gram hash unrolls into pure list
        # algebra — per position, an 8-step Horner fold in HUGEINT with the
        # same Mersenne modulus; leftmost-min per 4-window via list_indexof;
        # "record when the min position moves" = keep positions that differ
        # from their predecessor (min positions are non-decreasing as the
        # window slides, so the recorded set is the distinct positions).
        "doc_winnow_fp": """
            with chars as (
              select doc_id,
                     list_transform(range(1, length(lower(text)) + 1),
                        i -> unicode(substr(lower(text), i, 1))::HUGEINT) as cs
              from documents
            ),
            hs as (
              select doc_id,
                     case when len(cs) >= 8 then
                       list_transform(range(1, len(cs) - 6),
                         i -> list_reduce(cs[i:i+7],
                              (acc, c) -> (acc * 1000003 + c)
                                          % 2305843009213693951))
                     else []::HUGEINT[] end as hashes
              from chars
            ),
            wins as (
              select doc_id, hashes,
                     case when len(hashes) >= 4 then
                       list_transform(range(1, len(hashes) - 2),
                         w -> w - 1 + list_indexof(hashes[w:w+3],
                                                   list_min(hashes[w:w+3])))
                     else []::BIGINT[] end as argpos
              from hs
            ),
            fp as (
              select doc_id,
                     list_transform(
                       list_filter(range(1, len(argpos) + 1),
                                   i -> i = 1 or argpos[i] != argpos[i-1]),
                       i -> hashes[argpos[i]]::BIGINT) as fingerprints
              from wins
            )
            , ex as (
              select doc_id, unnest(list_distinct(fingerprints)) as f
              from fp),
            sh as (
              select f from ex group by f
              having count(distinct doc_id) >= 2),
            per as (
              select ex.doc_id, count(*) as n_shared_fps
              from ex join sh using (f) group by 1)
            select fp.doc_id,
                   cast(len(fingerprints) as integer) as n_fingerprints,
                   md5(array_to_string(fingerprints, ',')) as fp_digest,
                   cast(coalesce(per.n_shared_fps, 0) as bigint)
                     as n_shared_fps
            from fp left join per on fp.doc_id = per.doc_id
        """,
        # extract_chunks_docs / extract_pipeline_pages / extract_manifest /
        # doc_tokenize have no ANSI-SQL equivalent (sequential per-doc
        # template / DP-segmentation pipelines); their oracles are
        # REFERENCE-ANCHORED snapshot goldens (tests/goldens/q/*.parquet,
        # tools/gen_query_goldens.py) — the generator refuses to write a
        # golden unless chunk texts are byte-identical to the reference's
        # own FACTORY[parser].chunk execution (244 pipeline urls + all 500
        # sf0.01 docs) and manifest counts agree with a DuckDB recount.
        # Pinned at the driver's compare scale (sf0.01).
        "extract_chunks_docs": f"""
            select url, chunk_idx, chunk_text, content_hash, partition_id
            from '{_GOLDEN_Q}/extract_chunks_docs.parquet'
        """,
        "extract_pipeline_pages": f"""
            select url, chunk_idx, chunk_text, tag_text, title, parser,
                   fmt, content_hash
            from '{_GOLDEN_Q}/extract_pipeline_pages.parquet'
        """,
        "extract_manifest": f"""
            select partition_id, doc_count, chunk_count, bytes, content_hash
            from '{_GOLDEN_Q}/extract_manifest.parquet'
        """,
        "doc_tokenize": f"""
            select doc_id, content_ltks, content_sm_ltks
            from '{_GOLDEN_Q}/doc_tokenize.parquet'
        """,
        # ground-truth-verified snapshot (gen_query_goldens refuses to
        # write it unless every painted rect center is inside a returned
        # det box and per-image counts match the synthetic ground truth)
        "media_det_boxes": f"""
            select media_id, n_boxes, boxes_digest
            from '{_GOLDEN_Q}/media_det_boxes.parquet'
        """,
        "media_rec_lines": f"""
            select line_id, text, conf
            from '{_GOLDEN_Q}/media_rec_lines.parquet'
        """,
        "media_ocr_lines": f"""
            select media_id, line_no, text, conf, box_digest
            from '{_GOLDEN_Q}/media_ocr_lines.parquet'
        """,
        # the two invariant queries below additionally oracle-gate the
        # STRUCTURE live (not snapshot): the Spark query materializes the
        # chunk table to .cache and DuckDB independently recomputes the
        # invariants from the same parquet.
        "extract_invariants": f"""
            with t as (
              select * from '{_ORACLE_CACHE}/oracle_invariants/*.parquet'
            ),
            pc as (
              select url, chunk_idx, content_hash, error,
                     case when len(spans) > 0
                               and not starts_with(chunk_text, '<table')
                          then spans[1].page
                          else null end as first_page
              from t
            ),
            lagd as (
              select *, last_value(first_page ignore nulls) over (
                  partition by url order by chunk_idx
                  rows between unbounded preceding and 1 preceding
              ) as prev_page
              from pc
            )
            select 'chunks' as tier, url as key,
                   cast(count(*) as bigint) as m1,
                   cast(sum(case when error is null then 1 else 0 end)
                        as bigint) as m2,
                   cast(count(distinct content_hash) as bigint) as m3,
                   cast(sum(case when first_page < prev_page then 1
                            else 0 end) as bigint) as m4
            from lagd
            group by url
            union all
            select 'manifest' as tier, cast(partition_id as varchar) as key,
                   cast(count(distinct url) as bigint) as m1,
                   cast(count(*) as bigint) as m2,
                   cast(sum(length(chunk_text)) as bigint) as m3,
                   cast(0 as bigint) as m4
            from '{_ORACLE_CACHE}/oracle_invariants/*.parquet'
            group by partition_id
        """,
    }
