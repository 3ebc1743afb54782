"""Streaming-tier tests: the streaming extraction path must produce exactly
the batch pipeline's rows (same parity core, same deterministic ids), and
the stateful sessionizer must equal the batch sessionizer minus trailing
open sessions."""

import os

from pyspark.sql import functions as F

from ragflow_spark.operators.events import sessionize
from ragflow_spark.operators.extract import extract_chunks
from ragflow_spark.sources import pages as pages_src
from ragflow_spark.streaming.events import (
    run_stream_to_parquet,
    sessionize_stateful,
)


def test_stream_extraction_equals_batch(spark, tmpdir_path):
    src = os.path.join(tmpdir_path, "pages")
    pages_src.generate_pages_df(spark, 48, parallelism=2).write.parquet(src)
    pages = spark.read.parquet(src)

    cols = ["url", "chunk_idx", "chunk_text", "content_hash"]
    batch = sorted(map(tuple, extract_chunks(pages, num_partitions=8)
                       .select(cols).collect()))

    stream = spark.readStream.schema(pages.schema).parquet(src)
    out = os.path.join(tmpdir_path, "chunks")
    q = run_stream_to_parquet(
        extract_chunks(stream, num_partitions=8),
        out, os.path.join(tmpdir_path, "ckpt"),
    )
    q.awaitTermination(300)
    # row multisets: a duplicated or dropped chunk row fails
    streamed = sorted(map(tuple, spark.read.parquet(out).select(cols).collect()))
    assert streamed == batch


def test_stateful_sessions_equal_batch_minus_trailing(spark, tmpdir_path):
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    for u in (1, 2):
        t = base
        for s in range(3):          # 3 sessions per user
            for e in range(4):      # 4 events each, 5 min apart
                rows.append((u, t, 1.5))
                t += dt.timedelta(minutes=5)
            t += dt.timedelta(minutes=45)  # gap closes the session
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = os.path.join(tmpdir_path, "ev")
    ev.write.parquet(src)

    batch = sessionize(spark.read.parquet(src))
    per_user_max = batch.groupBy("user_id").agg(
        F.max("session_seq").alias("mx")
    )
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         round(r.sum_value, 4))
        for r in batch.join(per_user_max, "user_id")
        .filter(F.col("session_seq") < F.col("mx")).collect()
    }

    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = os.path.join(tmpdir_path, "sess")
    q = run_stream_to_parquet(
        sessionize_stateful(stream),
        out, os.path.join(tmpdir_path, "ckpt2"),
    )
    q.awaitTermination(300)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         round(r.sum_value, 4))
        for r in spark.read.parquet(out).collect()
    }
    assert got == expected
    assert len(got) == 4  # 2 users × (3 sessions − 1 trailing)


def test_dedup_stream_matches_batch_keepers(spark, tmpdir_path):
    """Drained with availableNow, the streaming dedup emits exactly the
    batch exact_dedup keepers (min-id per fingerprint)."""
    from ragflow_spark.operators.dedup import exact_dedup_groups
    from ragflow_spark.streaming.events import dedup_stream

    rows = []
    for i in range(60):
        # every third doc is a re-fetch of doc i-1 (same normalized text)
        text = f"content {i - (1 if i % 3 == 2 else 0)} body words"
        rows.append((f"u{i:03d}", text))
    df = spark.createDataFrame(rows, "url string, chunk_text string")
    src = os.path.join(tmpdir_path, "dsrc")
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out = os.path.join(tmpdir_path, "dout")
    ckpt = os.path.join(tmpdir_path, "dckpt")
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {r.url for r in spark.read.parquet(out).collect()}
    want = {r.keep_id for r in
            exact_dedup_groups(df, "url", "chunk_text").collect()}
    assert got == want
    assert len(got) == 40  # 60 docs, 20 re-fetches


def test_stream_lm_and_nb_scoring_match_batch(spark, tmpdir_path):
    """The incremental-ingest quality tier: a persisted char-LM model
    and NB classifier score a STREAM of new docs (charlm_score/nb_score
    are stateless mapInPandas transforms, so they lift to Structured
    Streaming unchanged) — streamed scores equal the batch run
    row-for-row."""
    import numpy as np

    from ragflow_spark.operators import clf, lm
    from ragflow_spark.streaming.events import run_stream_to_parquet

    src = os.path.join(tmpdir_path, "docs")
    hist = spark.createDataFrame(
        [(i, f"historical doc {i} with common words") for i in range(40)],
        "doc_id long, text string",
    )
    hist.write.parquet(src)
    docs = spark.read.parquet(src)

    # train on the "historical" corpus, persist, reload (the store path)
    model = lm.charlm_model(
        [(r["idx"], r["c"])
         for r in lm.charlm_bigram_counts(docs, "text").collect()]
    )
    w = np.zeros(128, dtype=np.int64)
    w[:5] = [3_000_000, -2_000_000, 1, -1, 500_000]
    prior = -123_456

    batch_lm = {r["doc_id"]: r["nll_micro"]
                for r in lm.charlm_score(docs, "doc_id", "text", model).collect()}
    batch_nb = {r["doc_id"]: r["score_micro"]
                for r in clf.nb_score(docs, "doc_id", "text", w, prior).collect()}

    stream = spark.readStream.schema(docs.schema).parquet(src)
    out_lm = os.path.join(tmpdir_path, "scored_lm")
    q = run_stream_to_parquet(
        lm.charlm_score(stream, "doc_id", "text", model),
        out_lm, os.path.join(tmpdir_path, "ckpt_lm"),
    )
    q.awaitTermination(300)
    got_lm = {r["doc_id"]: r["nll_micro"]
              for r in spark.read.parquet(out_lm).collect()}
    assert got_lm == batch_lm

    out_nb = os.path.join(tmpdir_path, "scored_nb")
    q = run_stream_to_parquet(
        clf.nb_score(stream, "doc_id", "text", w, prior),
        out_nb, os.path.join(tmpdir_path, "ckpt_nb"),
    )
    q.awaitTermination(300)
    got_nb = {r["doc_id"]: r["score_micro"]
              for r in spark.read.parquet(out_nb).collect()}
    assert got_nb == batch_nb


def test_stream_extraction_checkpoint_resume_no_reprocess(spark, tmpdir_path):
    """The streaming face of the north rule's resume contract: a drained
    availableNow run, then NEW landing-zone files, then a RESTART from the
    same checkpoint — the second run processes only the new files and no
    chunk is emitted twice (exactly-once via the sink checkpoint, the
    streaming twin of the manifest protocol's batch resume)."""
    src = os.path.join(tmpdir_path, "pages")
    out = os.path.join(tmpdir_path, "chunks")
    ckpt = os.path.join(tmpdir_path, "ckpt")

    first = pages_src.generate_pages_df(spark, 32, parallelism=2)
    first.write.parquet(src)
    schema = spark.read.parquet(src).schema

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = run_stream_to_parquet(
            extract_chunks(stream, num_partitions=8), out, ckpt
        )
        q.awaitTermination(300)

    drain()
    n_first = spark.read.parquet(out).count()
    assert n_first > 0

    # crawler lands a second batch (urls disjoint by construction)
    second = pages_src.generate_pages_df(spark, 48, parallelism=2).filter(
        ~F.col("url").isin([r.url for r in first.select("url").collect()])
    )
    n_new_pages = second.count()
    assert n_new_pages > 0
    second.write.mode("append").parquet(src)

    drain()  # restart from the same checkpoint
    chunks = spark.read.parquet(out)
    # no duplicates: every (url, chunk_idx) appears exactly once
    assert chunks.count() == chunks.select("url", "chunk_idx").distinct().count()
    # and the restart actually added the new batch's work
    assert chunks.count() > n_first
    # third drain with nothing new is a strict no-op
    drain()
    assert spark.read.parquet(out).count() == chunks.count()
