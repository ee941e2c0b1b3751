"""Stateful conversation accumulation for streams whose conversations
SPAN microbatches.

``cutwed_spark.streaming.ingest`` assumes conversation-complete files
(each conversation's turns arrive in one microbatch). Real transcript
streams interleave turns from many live conversations; this module
lifts that restriction with ``applyInPandasWithState``:

  turns stream (+ watermark) -> groupBy(conv_id) -> per-group state
  buffers turns -> when the EVENT-TIME watermark passes the
  conversation's last turn + ``gap_seconds`` (the conversation is
  quiescent), the assembled conversation is emitted ONCE and its state
  is dropped.

The emitted rows carry the full sorted turn arrays; inside
``foreachBatch``, ``conversations_to_turns`` restores the transcript
layout that ``assemble_with_signatures`` consumes. Late turns inside the
watermark are merged; turns later than the watermark are dropped by
Spark upstream — the standard event-time contract.

State size per key is bounded by ``max_turns`` (the same cap, and the
same no-silent-truncation surfacing, as batch assembly).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CONVERSATION_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", IntegerType()),
        StructField("n_truncated", IntegerType()),
        StructField("turn_idx", ArrayType(IntegerType())),
        StructField("role", ArrayType(StringType())),
        StructField("text", ArrayType(StringType())),
        StructField("tool", ArrayType(StringType())),
        StructField("ts_us", ArrayType(LongType())),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("turn_idx", ArrayType(IntegerType())),
        StructField("role", ArrayType(StringType())),
        StructField("text", ArrayType(StringType())),
        StructField("tool", ArrayType(StringType())),
        StructField("ts_us", ArrayType(LongType())),
        StructField("last_ts_us", LongType()),
        StructField("n_dropped", IntegerType()),
    ]
)


def _make_accumulator(gap_seconds: float, max_turns: int):
    gap_ms = int(gap_seconds * 1000)

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            (ti, ro, tx, to, ts, _last, dropped) = state.get
            state.remove()
            order = sorted(range(len(ti)), key=lambda k: (ti[k], ts[k]))
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "n_turns": [len(ti)],
                    "n_truncated": [int(dropped)],
                    "turn_idx": [[ti[k] for k in order]],
                    "role": [[ro[k] for k in order]],
                    "text": [[tx[k] for k in order]],
                    "tool": [[to[k] for k in order]],
                    "ts_us": [[ts[k] for k in order]],
                }
            )
            return

        if state.exists:
            ti, ro, tx, to, ts, last, dropped = state.get
            ti, ro, tx, to, ts = list(ti), list(ro), list(tx), list(to), list(ts)
        else:
            ti, ro, tx, to, ts = [], [], [], [], []
            last, dropped = 0, 0
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                t_us = int(row.ts.value // 1_000)  # pandas Timestamp -> micros
                if len(ti) >= max_turns:
                    dropped += 1  # bounded state; surfaced, never silent
                    last = max(last, t_us)
                    continue
                ti.append(int(row.turn_idx))
                ro.append(row.role)
                tx.append(row.text)
                to.append(row.tool)
                ts.append(t_us)
                last = max(last, t_us)
        state.update((ti, ro, tx, to, ts, last, int(dropped)))
        # Conversation is complete once the event-time watermark passes
        # its last turn + gap (quiescence).
        state.setTimeoutTimestamp(last // 1000 + gap_ms)
        return
        yield  # pragma: no cover — makes fn a generator on all paths

    return fn


def accumulate_conversations(
    turns: DataFrame,
    gap_seconds: float = 1800.0,
    watermark_delay: str = "10 minutes",
    max_turns: int = 512,
) -> DataFrame:
    """Streaming turns -> completed-conversation rows.

    ``turns`` must be a streaming DataFrame with columns
    (conv_id, turn_idx, role, text, tool, ts). A conversation is
    emitted when the event-time watermark passes its last turn's
    timestamp + ``gap_seconds``. Output schema: CONVERSATION_SCHEMA.
    """
    with_wm = turns.withWatermark("ts", watermark_delay)
    return (
        with_wm.groupBy("conv_id")
        .applyInPandasWithState(
            _make_accumulator(gap_seconds, max_turns),
            outputStructType=CONVERSATION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def conversations_to_turns(conversations: DataFrame) -> DataFrame:
    """Completed-conversation rows -> the standard transcript layout
    (one row per turn) so the batch assembly/blocking stack applies
    unchanged downstream of the stream."""
    from pyspark.sql import functions as F

    z = F.arrays_zip("turn_idx", "role", "text", "tool", "ts_us")
    return conversations.select(
        "conv_id", F.explode(z).alias("t")
    ).select(
        "conv_id",
        F.col("t.turn_idx").alias("turn_idx"),
        F.col("t.role").alias("role"),
        F.col("t.text").alias("text"),
        F.col("t.tool").alias("tool"),
        F.timestamp_micros(F.col("t.ts_us")).alias("ts"),
    )
