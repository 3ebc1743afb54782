"""Structured Streaming variants of the event operators and the sink for
the streaming face of the extraction pipeline.

The reference's only streaming machinery is a Redis task queue with manual
ack (rag/svr/task_executor.py:137-188) — at-least-once batch resume, which
this engine maps to the manifest protocol (ragflow_spark.plans.manifest).
These operators cover the genuinely-streaming workloads a crawl/event feed
adds on top: watermarked tumbling-window aggregation, stateful sessions and
dedup. Streaming extraction has no operator of its own: it is
``operators.extract.extract_chunks`` over a ``readStream`` of pages (the
same plan as batch, giant lane and ``template_cfg`` included), written by
``run_stream_to_parquet`` with exactly-once sink semantics via
checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def windowed_counts_stream(events: DataFrame, watermark: str = "2 hours",
                           window: str = "1 hour") -> DataFrame:
    """Streaming analog of operators.events.windowed_counts: tumbling
    window + watermark so late events beyond the bound are dropped and
    state is evicted (bounded memory at unbounded input)."""
    # watermarks require TIMESTAMP (LTZ); parquet NTZ columns are cast
    # through the UTC-pinned session timezone and back on output
    ntz = dict(events.dtypes).get("ts") == "timestamp_ntz"
    if ntz:
        events = events.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    out = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )
    if ntz:
        out = out.withColumn(
            "window_start", F.col("window_start").cast("timestamp_ntz")
        )
    return out


def run_stream_to_parquet(stream_df: DataFrame, out_path: str,
                          checkpoint: str, available_now: bool = True):
    """Start the query with an availableNow trigger (drain-what-exists) —
    the batch-parity mode used by tests and backfills."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    session assembly with a ``gap_minutes`` inactivity close, the streaming
    face of operators.events.sessionize.

    State per user = the one OPEN session (start, last_ts, n, sum); a new
    event either extends it or closes it (emitting the closed session) and
    starts the next. Append semantics: a session row is emitted only once a
    LATER event proves it closed — each user's trailing session stays in
    state, exactly like the batch operator's last session minus the
    emission. Bounded state: one row per active user regardless of input
    length.

    ORDERING CONTRACT: events are sorted within each micro-batch, but there
    is no watermark across triggers — an event older than the user's
    ``state.last`` (late arrival in a later batch) cannot be merged into an
    already-summarized session, so it is DROPPED, not appended (appending
    would corrupt the open session's boundaries). The single availableNow
    batch used by tests/backfills sees every event in one trigger, so
    nothing is dropped there; for genuinely multi-trigger feeds, put an
    upstream watermarked sort (or accept the drop) — this matches the
    documented semantics rather than silently corrupting sessions."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, sum_value double"
    )
    state_schema = "start timestamp, last timestamp, n bigint, sv double"
    gap = gap_minutes * 60.0

    def fn(key, pdfs, state):
        import pandas as pd

        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        rows = pd.concat(frames).sort_values("ts")
        if state.exists:
            start, last, n, sv = state.get
            # late events (before the open session's last seen ts) can't be
            # merged into already-folded state — drop, per the ordering
            # contract in the docstring
            rows = rows[rows["ts"] >= pd.Timestamp(last)]
        else:
            start = last = None
            n, sv = 0, 0.0
        out = []
        for ts, val in zip(rows["ts"], rows["value"]):
            ts = ts.to_pydatetime()
            if last is not None and (ts - last).total_seconds() > gap:
                out.append((key[0], start, last, n, round(sv, 4)))
                start, n, sv = None, 0, 0.0
            if start is None:
                start = ts
            last = ts
            n += 1
            sv += float(val)
        if start is not None:
            state.update((start, last, n, sv))
        yield pd.DataFrame(
            out,
            columns=["user_id", "session_start", "session_end",
                     "n_events", "sum_value"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def dedup_stream(pages: DataFrame, id_col: str = "url",
                 text_col: str = "chunk_text",
                 ttl_minutes: int | None = None) -> DataFrame:
    """Streaming exact dedup via ``applyInPandasWithState``: the first
    arrival of each content fingerprint passes through, later identical
    arrivals are dropped — the streaming face of
    ``operators.dedup.exact_dedup`` for a crawl landing zone where the
    same page is re-fetched across micro-batches.

    State = one boolean per distinct fingerprint seen. Within a batch the
    keeper is the MIN id (matching the batch operator's min-id keeper);
    across batches it is first-arrival-wins (streams have no global order
    to take a min over — the batch-parity tests drain with availableNow
    where the two coincide). Unbounded distinct content means unbounded
    state: pass ``ttl_minutes`` to expire fingerprints not seen for that
    long (re-fetches of long-dormant content then pass through again —
    the standard bounded-state trade; at 10^12 docs you shard this by
    fingerprint prefix and let each shard hold its slice)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{id_col} string, fp string"
    state_schema = "seen boolean"

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl_minutes
               else GroupStateTimeout.NoTimeout)

    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({id_col: [], "fp": []})
            return
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        rows = pd.concat(frames)
        if state.exists:
            if ttl_minutes:
                # refresh on every sighting: 'expire fingerprints not SEEN
                # for ttl', not 'ttl after first arrival'
                state.setTimeoutDuration(ttl_minutes * 60 * 1000)
            yield pd.DataFrame({id_col: [], "fp": []})
            return
        state.update((True,))
        if ttl_minutes:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        keeper = rows[id_col].min()
        yield pd.DataFrame({id_col: [keeper], "fp": [key[0]]})

    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")))
    return (
        pages.withColumn("fp", fp)
        .groupBy("fp")
        .applyInPandasWithState(fn, out_schema, state_schema, "append", timeout)
    )
