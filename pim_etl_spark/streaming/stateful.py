"""Custom stateful streaming operators (SURVEY §2.8).

The reference's stock feed carries per-SKU quantity snapshots with a
``modified_at`` stamp (sample data stock endpoint; FIXTURES.md §B6) and
its incremental path is stubbed. Here the real thing. Every keyed
operator runs on one API, ``applyInPandasWithState``: one ``GroupState``
tuple per key, folded one micro-batch at a time.

- ``latest_per_key_stream``: keep-latest-per-key across micro-batches
  — bounded state (one row per key), update-mode emission of keys that
  changed in the batch. This is the MongoDB-upsert semantics as a
  continuous operator.
- ``latest_per_key_with_ttl_stream``: the same fold (``_fold_latest``)
  plus an event-time timeout that retires keys which stop updating.
- ``latest_event_per_user_stream`` and ``cep_pattern_stream``: the
  keep-latest and view → click → purchase folds over the events table.
- ``sessionized_events_stream``: native ``session_window`` aggregation
  with a watermark (30-min gap), the streaming twin of the batch
  gaps-and-islands query.

State size at 100 TB: one (key → latest row) entry per live SKU, not
per event — the state store scales with catalog size, not stream
volume; the watermark bounds session state.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STOCK_STATE_SCHEMA = StructType(
    [
        StructField("modified_at", TimestampType(), True),
        StructField("qty", LongType(), True),
    ]
)

STOCK_OUT_SCHEMA = StructType(
    [
        StructField("sku", StringType(), True),
        StructField("qty", LongType(), True),
        StructField("modified_at", TimestampType(), True),
    ]
)


def _fold_latest(best: tuple | None, pdfs: Iterator[pd.DataFrame]) -> tuple[Any, Any, bool]:
    """Keep-latest fold over one micro-batch: newest (modified_at, qty)
    wins; ``changed`` says whether the batch moved the key's state."""
    best_ts, best_qty = best if best is not None else (None, None)
    changed = False
    for pdf in pdfs:
        if pdf.empty:
            continue
        idx = pdf["modified_at"].idxmax()
        ts = pdf.loc[idx, "modified_at"]
        if best_ts is None or ts > best_ts:
            best_ts, best_qty = ts, int(pdf.loc[idx, "qty"])
            changed = True
    return best_ts, best_qty, changed


def _latest_stock_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold each micro-batch into (latest modified_at, qty) per SKU and
    emit the key's current latest row when it changes."""
    best_ts, best_qty, changed = _fold_latest(state.get if state.exists else None, pdfs)
    if changed:
        state.update((best_ts, best_qty))
        yield pd.DataFrame({"sku": [key[0]], "qty": [best_qty], "modified_at": [best_ts]})


def latest_per_key_stream(stock_stream: DataFrame) -> DataFrame:
    """Continuous keep-latest-per-SKU (upsert-as-a-stream).

    Input columns: sku string, qty long, modified_at timestamp.
    """
    return stock_stream.groupBy("sku").applyInPandasWithState(
        _latest_stock_fn,
        outputStructType=STOCK_OUT_SCHEMA,
        stateStructType=STOCK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


STOCK_TTL_OUT_SCHEMA = StructType(
    [
        StructField("sku", StringType(), True),
        StructField("qty", LongType(), True),
        StructField("modified_at", TimestampType(), True),
        StructField("retired", StringType(), True),  # "live" | "retired"
    ]
)


def make_latest_with_ttl_fn(ttl_ms: int):
    """Stateful fold with event-time TTL: keys that stop receiving
    updates for ``ttl_ms`` past the watermark time out, emit a
    tombstone row (retired='retired'), and their state is dropped —
    bounded state for a catalog where SKUs get discontinued."""

    def _fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            ts, qty = state.get
            state.remove()
            yield pd.DataFrame(
                {"sku": [key[0]], "qty": [qty], "modified_at": [ts], "retired": ["retired"]}
            )
            return
        best_ts, best_qty, changed = _fold_latest(state.get if state.exists else None, pdfs)
        if best_ts is not None:
            state.update((best_ts, best_qty))
            # TTL is anchored to the key's OWN latest event time (not
            # the watermark — that would re-arm every batch); clamp to
            # watermark+1 because Spark rejects timeouts in the past
            event_ms = int(pd.Timestamp(best_ts).value // 1_000_000)
            state.setTimeoutTimestamp(max(event_ms + ttl_ms, state.getCurrentWatermarkMs() + 1))
        if changed:
            yield pd.DataFrame(
                {"sku": [key[0]], "qty": [best_qty], "modified_at": [best_ts], "retired": ["live"]}
            )

    return _fn


def latest_per_key_with_ttl_stream(stock_stream: DataFrame, ttl: str = "7 days") -> DataFrame:
    """Continuous keep-latest-per-SKU with retirement: requires a
    watermark on ``modified_at`` so event time drives the timeout."""
    n, unit = ttl.split()
    unit_ms = {"days": 86_400_000, "hours": 3_600_000, "minutes": 60_000, "seconds": 1_000}[unit]
    ttl_ms = int(n) * unit_ms
    # emitted rows are final change events, so the operator declares
    # append mode — that also lets it feed append-only file sinks
    return stock_stream.withWatermark("modified_at", "0 seconds").groupBy("sku").applyInPandasWithState(
        make_latest_with_ttl_fn(ttl_ms),
        outputStructType=STOCK_TTL_OUT_SCHEMA,
        stateStructType=STOCK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


LATEST_EVENT_STATE_SCHEMA = StructType(
    [
        StructField("ts", TimestampType(), True),
        StructField("event_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
    ]
)

LATEST_EVENT_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("last_ts", TimestampType(), True),
        StructField("last_event_id", LongType(), True),
        StructField("last_event_type", StringType(), True),
        StructField("last_value", DoubleType(), True),
    ]
)


def _latest_event_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold micro-batches into the per-user latest event. Duplicate
    timestamps exist in the synthetic data, so the order is the total
    (ts, event_id) — same tiebreak as the batch oracle's ROW_NUMBER."""
    best = state.get if state.exists else None
    changed = False
    for pdf in pdfs:
        if pdf.empty:
            continue
        row = pdf.sort_values(["ts", "event_id"]).iloc[-1]
        cand = (row["ts"], int(row["event_id"]), row["event_type"], float(row["value"]))
        if best is None or (cand[0], cand[1]) > (best[0], best[1]):
            best = cand
            changed = True
    if changed:
        state.update(best)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_ts": [best[0]],
                "last_event_id": [best[1]],
                "last_event_type": [best[2]],
                "last_value": [best[3]],
            }
        )


def latest_event_per_user_stream(events: DataFrame) -> DataFrame:
    """Continuous keep-latest-event-per-user via applyInPandasWithState
    — the generic form of ``latest_per_key_stream`` over the events
    table, so the arbitrary-stateful operator class gets a DuckDB-
    oracled catalog entry (stream_latest_event_per_user). State is one
    row per live user: store size scales with user cardinality, not
    stream volume."""
    return events.groupBy("user_id").applyInPandasWithState(
        _latest_event_fn,
        outputStructType=LATEST_EVENT_OUT_SCHEMA,
        stateStructType=LATEST_EVENT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionized_events_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 day") -> DataFrame:
    """Native session windows over the event stream: sessions close
    after ``gap`` of inactivity; state is dropped past the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


CEP_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("n_purchases", LongType(), True),
        StructField("n_converted", LongType(), True),
    ]
)

CEP_STATE_SCHEMA = StructType(
    [
        StructField("n_seen", LongType(), True),
        StructField("last_err", LongType(), True),
        StructField("last_view", LongType(), True),
        StructField("last_valid_click", LongType(), True),
        StructField("n_purchases", LongType(), True),
        StructField("n_converted", LongType(), True),
    ]
)


def _cep_pattern_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user CEP state machine: view → click → purchase with error
    reset, the streaming twin of the batch `cep_pattern_error_reset`
    windows. State is SIX integers per user regardless of history
    length — the same three running positions the batch windows
    compute, plus the running totals and a position offset so row
    numbers stay globally consistent across micro-batches."""
    n_seen, last_err, last_view, last_click, n_pur, n_conv = (
        state.get if state.exists else (0, 0, 0, 0, 0, 0)
    )
    changed = False
    for pdf in pdfs:
        if pdf.empty:
            continue
        pdf = pdf.sort_values(["ts", "event_id"])
        for et in pdf["event_type"]:
            n_seen += 1
            if et == "error":
                last_err = n_seen
            elif et == "view":
                last_view = n_seen
            elif et == "click":
                if last_view > last_err:
                    last_click = n_seen
            elif et == "purchase":
                n_pur += 1
                if last_click > last_err:
                    n_conv += 1
        changed = True
    state.update((n_seen, last_err, last_view, last_click, n_pur, n_conv))
    if changed and n_pur > 0:
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_purchases": [n_pur], "n_converted": [n_conv]}
        )


def cep_pattern_stream(events: DataFrame) -> DataFrame:
    """Streaming complex-event-processing over the event stream.

    Assumes micro-batch boundaries respect per-key event-time order
    (true for time-ordered file drops / available-now replays); a
    late-data-tolerant variant would buffer a watermark's worth of
    events per key before folding, trading state for disorder
    tolerance.

    Input columns: event_id long, ts timestamp, user_id long,
    event_type string.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _cep_pattern_fn,
        outputStructType=CEP_OUT_SCHEMA,
        stateStructType=CEP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
