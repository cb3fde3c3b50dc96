"""Streaming variants of the extraction pipeline and event-time ops.

- ``stream_extract``: the exactly-once scaffolding — readStream of a
  parquet directory → one ``transform`` (by default the SAME
  ``extract_pages`` as the batch path; mapInArrow is
  streaming-capable) → parquet sink with checkpoint. Byte-identity vs
  the batch path is pytest-enforced (tests/test_streaming.py) — the
  kernel cannot tell it is running under a microbatch.
  jobs/stream_job.py passes the corpus chain
  (``operators/corpus_filters.page_scorer``) as its transform.
- ``windowed_event_stats``: watermarked tumbling-window aggregation
  (late data dropped past the watermark).
- ``sessionize``: custom stateful operator via
  ``applyInPandasWithState`` — per-user session assembly with a gap
  timeout, the §2.9 extension-model analog for streams.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..pipeline import extract_pages

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
    transform: Callable[[DataFrame], DataFrame] = extract_pages,
    schema=PAGES_SCHEMA,
    available_now: bool = True,
):
    """Continuous ``transform`` of the parquet files landing in
    ``input_path`` (read with ``schema``), with exactly-once semantics
    (checkpointed file-source offsets + parquet sink manifest).
    ``transform`` is applied once, when the query is built.
    ``available_now`` drains what exists and stops — the test/replay
    mode; leave False for a long-running job."""
    out = transform(spark.readStream.schema(schema).parquet(input_path))
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_stats(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event_type. On a
    stream, rows later than the watermark are dropped and finalized
    windows are emitted once (append mode capable)."""
    # parquet NTZ timestamps → session-tz TIMESTAMP (watermarks require
    # an instant type; session tz is pinned to UTC in build_session)
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            "event_type",
            F.unix_timestamp("w.start").cast("long").alias("wstart"),
            "n",
            "total",
        )
    )


SESSION_SCHEMA = "user_id long, session_start long, n_events int, total double"
_STATE_SCHEMA = "start long, last long, n int, total double"


def _session_fn(key, pdfs, state: GroupState):
    """Per-user session assembly: events within ``gap`` seconds of each
    other belong to one session. Emits CLOSED sessions; the open tail
    stays in state across microbatches (a production job closes it
    with an end-of-stream sentinel batch or an event-time horizon).
    State = (start_epoch, last_epoch, n, total)."""
    gap = 1800  # 30 min, frozen
    rows = pd.concat(list(pdfs)).reset_index(drop=True)
    ts = (rows["ts"].astype("int64") // 1_000_000_000).tolist()
    vals = rows["value"].tolist()
    order = sorted(range(len(ts)), key=lambda i: ts[i])
    sessions = []
    if state.exists:
        start, last, n, total = state.get
    else:
        start, last, n, total = None, None, 0, 0.0
    for i in order:
        t, v = int(ts[i]), float(vals[i])
        if start is None:
            start, last, n, total = t, t, 1, v
        elif t - last <= gap:
            last, n, total = t, n + 1, total + v
        else:
            sessions.append((start, n, total))
            start, last, n, total = t, t, 1, v
    state.update((int(start), int(last), int(n), float(total)))
    if sessions:
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(sessions),
                "session_start": [int(s) for s, _, _ in sessions],
                "n_events": [int(n) for _, n, _ in sessions],
                "total": [float(t) for _, _, t in sessions],
            }
        )


def sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    30-minute-gap sessions per user, closed sessions emitted per
    microbatch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        SESSION_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
