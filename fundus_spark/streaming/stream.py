"""Structured Streaming wrapper around the same extraction stage.

The reference is a pull-based generator pipeline (SURVEY.md §2.7); the
Spark-native analogue is ``readStream`` on the transcripts table with
the identical ``mapInArrow`` stage graph — one code path for batch and
streaming (the stage functions are stream-safe: stateless per-row, no
global aggregation). Watermarking/windowed aggregation hooks are
provided for late-data rollups over ``ts``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.extract_stage import extract_articles


def stream_extract_articles(
    spark: SparkSession,
    input_path: str,
    schema: str = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-source stream of transcript parquet -> extraction stream.

    On a real deployment the source is the Iceberg table's incremental
    read; the stage graph below is identical either way.
    """
    return extract_articles(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def stream_first_wins_dedup(
    stream: DataFrame, keys=("conv_id", "turn_idx"), watermark_col: str = "ts", delay: str = "30 minutes"
) -> DataFrame:
    """Cross-micro-batch first-wins dedup — the streaming analogue of
    the reference crawler's seen-URL set (``crawler.py``: a URL seen in
    any earlier batch is dropped).

    State-bound contract: plain ``dropDuplicates(keys)`` only evicts
    state when the event-time column is PART of the dedup keys — with
    keys=(conv_id, turn_idx) the seen-key set would grow without bound
    in a long-running stream. ``dropDuplicatesWithinWatermark`` (Spark
    3.5+) is the operator built for exactly this: duplicates are
    dropped when they arrive within the watermark ``delay`` of the
    first-seen event, and each key's state is evicted once the
    watermark passes it — O(keys-per-delay-window) state at 100 TB.
    Semantic delta vs an unbounded seen-set, stated explicitly: a
    duplicate arriving MORE than ``delay`` after the original is
    re-emitted (its state has been evicted). That is the deliberate
    trade for bounded state; widen ``delay`` to widen the guarantee."""
    return stream.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(list(keys))


def sessionized_conversations(
    extracted_stream: DataFrame, gap: str = "10 minutes", watermark: str = "5 minutes"
) -> DataFrame:
    """Conversation assembly with an INACTIVITY GAP via the native
    session window — the streaming analogue of the reference crawler's
    inactivity ``timeout`` (crawler.py:291-342: stop waiting for more
    articles after N quiet seconds). A conversation's session closes
    when no new turn arrives within ``gap`` of its latest event time;
    the watermark makes emission deterministic in append mode. Turn
    order inside the document is restored by sorting the collected
    (turn_idx, plaintext) pairs — collect_list order is not relied on."""
    return (
        extracted_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "plaintext"))),
                    lambda s: s["plaintext"],
                ),
                "\n\n",
            ).alias("document"),
        )
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_turns",
            "document",
        )
    )


CONVERSATION_STATE_SCHEMA = "turn_idxs array<int>, texts array<string>, max_ts_ms long"
CONVERSATION_OUT_SCHEMA = "conv_id string, n_turns int, document string"


def _assemble_with_timeout_factory(gap_ms: int):
    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            turn_idxs, texts, _ = state.get
            ordered = [t for _, t in sorted(zip(turn_idxs, texts), key=lambda p: p[0])]
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [key[0]], "n_turns": [len(ordered)], "document": ["\n\n".join(ordered)]}
            )
            return
        turn_idxs, texts, max_ts_ms = state.get if state.exists else ([], [], 0)
        turn_idxs, texts = list(turn_idxs), list(texts)
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                turn_idxs.append(int(row.turn_idx))
                texts.append(row.plaintext or "")
                ts_ms = int(row.ts.value // 1_000_000) if row.ts is not None else 0
                max_ts_ms = max(max_ts_ms, ts_ms)
        state.update((turn_idxs, texts, max_ts_ms))
        # event-time timeout: fire once the watermark passes the
        # conversation's latest turn + gap (the inactivity criterion)
        state.setTimeoutTimestamp(max_ts_ms + gap_ms)
        yield pd.DataFrame({"conv_id": [], "n_turns": [], "document": []})

    return fn


def conversations_with_inactivity_timeout(
    extracted_stream: DataFrame, gap_ms: int = 600_000, watermark: str = "5 minutes"
) -> DataFrame:
    """Custom stateful twin of :func:`sessionized_conversations` built
    on ``applyInPandasWithState`` — the escape hatch for semantics the
    native session window can't express (per-group accumulation with
    an explicit event-time inactivity timeout; extend the state tuple
    for e.g. per-conversation counters or early-emit rules). State per
    conv_id holds (turn_idxs, texts, max_ts); the timeout timestamp is
    latest-turn + gap, so a conversation is emitted exactly when it
    has been inactive for ``gap_ms`` relative to the watermark."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        extracted_stream.select("conv_id", "turn_idx", "plaintext", "ts")
        .withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _assemble_with_timeout_factory(gap_ms),
            outputStructType=CONVERSATION_OUT_SCHEMA,
            stateStructType=CONVERSATION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def write_stream_to_parquet(
    extracted: DataFrame, output_path: str, checkpoint_path: str, trigger_once: bool = True
) -> StreamingQuery:
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
