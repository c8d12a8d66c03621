"""Watermarked event-time operators: the late-data surface of the engine.

Two operators close the one Structured-Streaming idiom the repo's
fragment assembler (streaming_staged.py) does not cover —
EVENT-time aggregation under a watermark, where rows may arrive out of
order and a bounded lateness horizon decides when a window is final:

- ``sessionize_windows``: the streaming form of the G1 gap-sessionizer
  (reference: 1-D connected-component labeling,
  /root/reference/src/DocumentAnalyzer.py:111-115) expressed as the
  built-in ``session_window`` instead of the batch lag/cumsum pair.
  ONE function serves both engines: called on a batch DataFrame
  (``watermark=None``) it is a driver query checked value-hash-exact
  against the DuckDB cumsum oracle (``g1_session_window``); called on a
  stream with a watermark it emits each closed session exactly once in
  append mode. The parity suite (tests/test_streaming_windows.py) runs
  the SAME events through both paths plus a pure-Python third engine.

  Gap semantics pinned by test: ``session_window`` merges two events
  when their time difference is <= gap (inclusive) — identical to the
  batch sessionizer's break predicate ``t - lag(t) > gap`` with no +1.
  An exact-boundary event (diff == gap) is in the fixture. The
  checkpoint-restart leg of the contract lives in
  tests/test_streaming_stateful.py, which drives this same function
  through a stop/restart and asserts bit-equality to the batch cumsum.

- ``windowed_kind_counts``: tumbling event-time window over the
  fragment ingest stream (per-window per-kind span counts + text mass —
  the ops dashboard for a crawler frontier). The watermark bounds
  lateness: a fragment older than the horizon is DROPPED, never
  retro-mutating an already-emitted window — at 10^12 docs a window
  that can reopen forever means unbounded state and non-idempotent
  downstream consumers. The drop is contract-tested.

Scale notes. Both operators shuffle once on their group key
(user_id+session / window+kind) with map-side partial aggregation;
state per key is one running aggregate row, never a payload buffer. The
session merge is Spark's native state-store session list — state is
bounded by OPEN sessions only, because the watermark finalizes and
evicts closed ones. Window state is bounded by (horizon / window)
windows per kind. Neither holds text: ``windowed_kind_counts``
aggregates length(text), not text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from extraction.schema import FRAGMENTS_SCHEMA
from extraction.textops import fingerprint

# fragment contract + ingest event time (assigned by the crawler at
# fragment creation, NOT at delivery — that is what makes late delivery
# detectable at all)
EVENTED_FRAGMENTS_SCHEMA = StructType(
    list(FRAGMENTS_SCHEMA.fields)
    + [StructField("event_ts", TimestampType(), False)]
)


def sessionize_windows(
    events: DataFrame, gap_s: int, watermark: str | None = None
) -> DataFrame:
    """Gap-sessionize (user_id, ts) events via built-in session_window.

    Returns one row per closed session: (user_id, t_min, t_max,
    n_events) with times as unix seconds (BIGINT) — the same block
    extents as the batch ``_session_blocks`` cumsum form, minus the
    per-user session ordinal (session_window carries no numbering; the
    extents identify the session).

    ``watermark``: required for streaming append mode (bounds how late
    an event may arrive and still join its session); None for batch.
    """
    # truncate to integer seconds FIRST so both engines and the oracle
    # sessionize the same integer timeline (unix_timestamp floors)
    ev = events.select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        F.timestamp_seconds(F.unix_timestamp("ts")).alias("tts"),
    )
    if watermark is not None:
        ev = ev.withWatermark("tts", watermark)
    return ev.groupBy(
        "user_id", F.session_window("tts", f"{gap_s} seconds")
    ).agg(
        F.min("t").alias("t_min"),
        F.max("t").alias("t_max"),
        F.count("*").alias("n_events"),
    ).drop("session_window")


def dedup_stream_exact(
    docs: DataFrame,
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup: first delivery of a fingerprint wins.

    The streaming form of ``dedup.exact_duplicates`` (same
    ``textops.fingerprint``: md5 over normalized text): each arriving
    doc gets its content fingerprint; ``dropDuplicatesWithinWatermark``
    emits the first arrival per fingerprint and suppresses every
    duplicate that lands within the watermark horizon of it.

    The horizon IS the state bound, stated as contract rather than
    hidden: dedup state per fingerprint is evicted once the watermark
    passes its event time + delay, so a duplicate arriving later than
    the horizon RE-EMITS. That is the only state-bounded semantics
    possible on an unbounded stream — global exact dedup needs the
    batch operator (or a downstream batch compaction over the emitted
    stream, which the Iceberg seam's bucket overwrite provides). Both
    sides of the trade are contract-tested (suppression within the
    horizon, re-emission beyond it). Input rows must carry ``event_ts``
    (crawl time, not delivery time).

    Scale shape: one shuffle on the fingerprint; state is one tiny
    (fp, ts) entry per distinct doc INSIDE the horizon — at a 10^12-doc
    corpus the horizon, not the corpus, sizes the store.
    """
    return (
        docs.withColumn("fp", fingerprint(F.col(text_col)))
        .withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def windowed_kind_counts(
    frags: DataFrame, window_s: int = 10, watermark: str = "30 seconds"
) -> DataFrame:
    """Per-tumbling-window per-kind span counts over the ingest stream.

    Input rows follow EVENTED_FRAGMENTS_SCHEMA. Output one row per
    (window, kind): fragment span count + total text bytes, window
    bounds as unix seconds. Append mode emits a window exactly once,
    when the watermark passes its end; fragments later than the horizon
    are dropped (never re-emit or mutate a finalized window).
    """
    spans = frags.withWatermark("event_ts", watermark).select(
        "event_ts", F.explode("spans").alias("s")
    )
    return (
        spans.groupBy(
            F.window("event_ts", f"{window_s} seconds").alias("w"),
            F.col("s.kind").alias("kind"),
        )
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.length(F.coalesce(F.col("s.text"), F.lit("")))).alias(
                "text_chars"
            ),
        )
        .select(
            F.unix_timestamp("w.start").alias("w_start"),
            F.unix_timestamp("w.end").alias("w_end"),
            "kind",
            "n_spans",
            "text_chars",
        )
    )
