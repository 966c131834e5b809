"""Structured Streaming surface (SURVEY.md §2.10).

The reference is batch-only [R]; the north_rule is batch — this module is the
engine's streaming extension:

- windowed event aggregation (T1 tumbling/sliding, T2 session) with
  watermarked late-data handling (T3) and streaming dedup (T4);
- incremental KG ingest (T5): a documents stream runs the *same stateless
  extract/link stages* as batch (they are per-doc pure functions) and merges
  triples via ``foreachBatch``.

The window/session transformations are defined once and used by BOTH the
batch oracle queries (__spark_entry__) and the streaming tests — Structured
Streaming's incremental execution of the identical logical plan is exactly
the Spark-first way to keep batch/stream parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """T1 — per (window, event_type) count + value sum. Works on a batch or
    streaming DataFrame unchanged. ``ts`` is normalized to zoned TIMESTAMP
    (lossless under the fixed UTC session TZ) so batch and stream schemas
    agree and watermarks apply."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """T2 — session windows per user (gap-merged)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("first_ts"))
        .select(
            "user_id",
            F.col("first_ts").alias("session_start"),
            "n_events",
        )
    )


def streaming_tumbling(
    events_stream: DataFrame, width: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """T1+T3 — the same tumbling agg with a watermark for late data.

    Event time must be TIMESTAMP (with zone); parquet sources often carry
    TIMESTAMP_NTZ — the cast is lossless under the fixed UTC session TZ."""
    stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return tumbling_counts(stream.withWatermark("ts", watermark), width)


def streaming_dedup(events_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T4 — stateful dedup keyed on event_id within the watermark horizon."""
    zoned = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return zoned.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def incremental_kg_ingest(
    spark,
    docs_stream: DataFrame,
    gazetteer: DataFrame,
    patterns: DataFrame,
    canon_map: DataFrame,
    out_path: str,
    checkpoint_dir: str,
):
    """T5 — readStream(docs) → extract → link → materialize → append sink.

    The extract/link/materialize stages are stateless per doc, so the batch
    operators run inside ``foreachBatch`` untouched — link and canon as the
    one fused ``link_and_canonicalize`` probe run_pipeline uses; the triples
    table grows append-only and dedup happens at read time.
    Returns the StreamingQuery (caller awaits/stops)."""
    from kbgen_spark.operators.extract import make_extract_fn
    from kbgen_spark.operators.link import link_and_canonicalize
    from kbgen_spark.operators.materialize import assemble_triples

    # gazetteer-derived plan decisions (literal-cap collect, max token
    # count) resolved ONCE — not per micro-batch inside process().
    extract_fn = make_extract_fn(gazetteer)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        links = link_and_canonicalize(extract_fn(batch_df), gazetteer, canon_map)
        triples = assemble_triples(links, patterns)
        triples.write.mode("append").parquet(out_path)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_closed_sessions(
    events_stream: DataFrame,
    gap_seconds: int = 300,
    watermark: str = "10 minutes",
) -> DataFrame:
    """T6 — CUSTOM stateful sessionizer via ``applyInPandasWithState``
    (Arrow-batched pandas state function; the Spark-first home for operators
    session_window can't express — this one emits CLOSED sessions only, in
    append mode, closing either when a later event arrives > gap away or when
    the event-time watermark passes session_end + gap via a per-key timer).

    State is one open session per user packed as int64 micros
    ``(start_us, end_us, n)`` — fixed-width, no timestamp encoding in the
    state store. Sessions that close inside a micro-batch are emitted
    immediately; the trailing open session arms an event-time timeout and is
    emitted by the timer when the watermark passes it.

    Batch-split invariance holds for events at or after ``open_start − gap``
    (the interval-merge below). KNOWN LIMITATION (round-6, from review):
    state holds only ONE open interval, so a session that closes entirely
    BEFORE the open session's start is emitted immediately — two late
    events that would merge into one session if they arrived in the same
    micro-batch can fragment into two singletons when they arrive in
    different batches while both above the watermark (reachable only when
    the watermark delay exceeds the session gap). Buffering pre-open closed
    sessions in state until the watermark passes their close edge would
    remove the case at the cost of variable-width state. At scale, state is
    hash-partitioned by user_id across executors and each key holds a
    constant 24 bytes — no per-key growth."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                }
            )
            return
        ts_parts = [pdf["ts"] for pdf in pdf_iter]
        ts = (
            pd.concat(ts_parts)
            .astype("datetime64[us]")
            .astype("int64")
            .sort_values()
            .to_numpy()
        )
        # Interval-merge sweep over the batch's sorted events PLUS the
        # carried open session as an interval. Batch events are sorted, but
        # the open session's end may sit AHEAD of late-but-valid events from
        # this batch (above the watermark, before the session edge); the
        # round-5 review caught the scalar-cursor version moving the open
        # session's end BACKWARDS on such events (splitting sessions and
        # emitting regressed end timestamps). Sorting the state interval in
        # with the events and merging by start makes the result independent
        # of how the input splits into micro-batches: a late event inside
        # [start - gap, end + gap] merges (extending start backwards when
        # earlier), and one more than gap before the open start closes as
        # its own earlier session.
        items = [(int(t), int(t), 1) for t in ts]
        if state.exists:
            s0, e0, n0 = state.get
            items.append((int(s0), int(e0), int(n0)))
            items.sort()
        if not items:
            return
        closed = []
        start_us, end_us, n = items[0]
        for s, e, c in items[1:]:
            if s - end_us > gap_us:
                closed.append((start_us, end_us, n))
                start_us, end_us, n = s, e, c
            else:
                end_us = max(end_us, e)
                n += c
        state.update((start_us, end_us, n))
        # fire when the event-time watermark passes the session's close edge
        state.setTimeoutTimestamp(end_us // 1000 + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _ in closed
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _, e, _ in closed
                    ],
                    "n_events": [c for _, _, c in closed],
                }
            )

    zoned = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        zoned.select("user_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id bigint, session_start timestamp, "
                "session_end timestamp, n_events bigint"
            ),
            stateStructType="start_us bigint, end_us bigint, n bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
