"""Event-time windowed telemetry over a transcript stream, with
watermarked late-data handling.

Match assembly itself needs no watermark — explicit InitGame/ShutdownGame
delimiters drive the keyed state in ``session_stream`` — but the
operational telemetry a 10^12-turn deployment runs BESIDE that pipeline
(turns/sec, parse-error rate, kill rate per time window, distinct active
conversations) is the classic event-time aggregation: a late turn from a
slow producer must fold into ITS OWN window as long as it beats the
watermark, a window must emit exactly once after the watermark passes its
end, and per-window state must be reclaimed so the state store stays
bounded over an unbounded stream.

Spark-first shape: ``withWatermark("ts", ...)`` + ``groupBy(window(...))``
— incremental partial aggregation in the state store, append-mode
emission on watermark passage, automatic state eviction.  The event
classifier is a cheap JVM regex (event name = text before the first ':'
of the second token), so the hot path carries no Python at all; the
distinct-conversation count is a streaming-legal HyperLogLog
(``approx_count_distinct``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the line grammar's event-name prefix (functions/parse_expr.py)
_EVENT_RE = r"^ *[^ ]+ ([A-Za-z]+):"


def window_metrics_stream(
    transcripts_stream: DataFrame,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    slide: str | None = None,
) -> DataFrame:
    """Per-event-time-window turn/kill/unparsed/conversation counts.

    Returns an append-mode-compatible streaming frame: one row per closed
    window ``(window_start, window_end, n_turns, n_kills, n_unparsed,
    approx_convs)``.  ``slide`` turns the tumbling window into a sliding
    one.  LITERALLY one definition, two execution modes: this is
    ``window_metrics_batch``'s expression tree applied after the
    watermark — batch/stream parity cannot drift.
    """
    return window_metrics_batch(
        transcripts_stream.withWatermark("ts", watermark), window, slide
    )


def window_metrics_batch(
    transcripts: DataFrame, window: str = "10 seconds", slide: str | None = None
) -> DataFrame:
    """The same windowed aggregation over a bounded table (backfill /
    parity twin of ``window_metrics_stream`` — no watermark needed when
    the input is complete)."""
    win = (
        F.window("ts", window)
        if slide is None
        else F.window("ts", window, slide)
    )
    et = F.regexp_extract("text", _EVENT_RE, 1)
    return (
        transcripts.groupBy(win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum((et == "Kill").cast("long")).alias("n_kills"),
            F.sum((et == "").cast("long")).alias("n_unparsed"),
            F.approx_count_distinct("conv_id").alias("approx_convs"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_turns",
            "n_kills",
            "n_unparsed",
            "approx_convs",
        )
    )
