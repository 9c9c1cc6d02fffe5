"""Streaming stateful operators (reference SURVEY §2.3 on Structured
Streaming).

- stateful_map / stateful_op -> `applyInPandasWithState` with one
  state object per key (reference operators/stateful_map.rs:60-110,
  stateful_op.rs:14-103). State lives in the RocksDB state store
  (spills, unlike the reference's in-memory IndexMap) and is
  checkpoint-persisted per microbatch — the reference's ABS snapshot
  (SURVEY §3.3) as engine config.
- ttl_map -> the same plus GroupStateTimeout, matching the
  epoch-driven eviction of ttl_map.rs:72-83.

The user contract mirrors the reference's `StatefulLogic`:
`fn(key, value_batch, state) -> (rows_out, new_state | None)` with
state=None dropping the key (stateful_map.rs:74-77).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


# zone ids whose wall clock equals UTC at every instant — a session
# set to any of these produces bit-identical timestamps to "UTC"
_UTC_ALIASES = {
    "UTC", "Etc/UTC", "GMT", "Etc/GMT", "GMT0", "Etc/GMT0", "Etc/GMT+0",
    "Etc/GMT-0", "UCT", "Etc/UCT", "Universal", "Etc/Universal", "Zulu",
    "Etc/Zulu", "Z", "+00:00", "UTC+00:00", "GMT+00:00",
}


def require_utc_session(sdf: DataFrame, op: str) -> None:
    """The pandas-side twins round-trip event time through naive
    pd.Timestamp values, which Spark reinterprets in the SESSION time
    zone on Arrow conversion — exact batch parity therefore requires a
    UTC session time zone (build_session pins it). Fail loudly at
    operator construction instead of silently shifting every emitted
    timestamp by the tz offset in a non-UTC session."""
    tz = sdf.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz not in _UTC_ALIASES:
        raise ValueError(
            f"{op} requires a UTC spark.sql.session.timeZone for exact "
            f"batch/stream timestamp parity (session has {tz!r}); set "
            'spark.conf.set("spark.sql.session.timeZone", "UTC")'
        )


def stateful_map_stream(
    sdf: DataFrame,
    key_cols: list[str],
    fn: Callable,
    output_schema,
    state_schema,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Keyed stateful transform over a streaming DataFrame.

    `fn(key: tuple, pdfs: iter[pd.DataFrame], state_tuple | None)
    -> (iter[pd.DataFrame], new_state_tuple | None)` — a batched form
    of the reference's per-record closure; batching is where the
    ~100x over row-at-a-time comes from (Arrow transfer).
    """

    def wrapped(key, pdfs, state: GroupState):
        existing = state.get if state.exists else None
        outs, new_state = fn(key, pdfs, existing)
        if new_state is None:
            if state.exists:
                state.remove()
        else:
            state.update(new_state)
        yield from outs

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        wrapped,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def running_totals_stream(
    sdf: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
):
    """Per-key running (count, sum) — the streaming twin of the batch
    running-sum parity query (reference stateful_map.rs:126-156).
    Emits one row per key per microbatch with totals-so-far.

    The 2-decimal value column accumulates as INTEGER CENTS in state:
    exact at any key cardinality × magnitude (cents stay far below
    2^53 for any realistic total, where float64 accumulation drifts
    after ~1e9 same-key additions of large values). The emitted double
    is the nearest double to the exact decimal total — bit-identical
    to a DECIMAL-summing SQL oracle's final DOUBLE cast."""
    import pandas as pd

    def totals(key, pdfs, state):
        n, cents = state if state else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf[value_col] * 100).round().astype("int64").sum())
        out = pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )
        return [out], (n, cents)

    return stateful_map_stream(
        sdf,
        [key_col],
        totals,
        output_schema=f"{key_col} long, n_events long, total_value double",
        state_schema="n long, cents long",
    )


def ttl_map_stream(
    sdf: DataFrame,
    key_cols: list[str],
    fn: Callable,
    output_schema,
    state_schema,
    ttl_ms: int,
) -> DataFrame:
    """stateful_map with processing-time state TTL (reference
    ttl_map.rs:16-100): keys idle for ttl_ms are evicted by the
    engine; `fn` sees state=None afterwards."""

    def wrapped(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return iter(())
        existing = state.get if state.exists else None
        outs, new_state = fn(key, pdfs, existing)
        if new_state is None:
            if state.exists:
                state.remove()
        else:
            state.update(new_state)
            state.setTimeoutDuration(ttl_ms)
        return iter(outs)

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        wrapped,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def ttl_map_event_stream(
    sdf: DataFrame,
    key_cols: list[str],
    fn: Callable,
    output_schema,
    state_schema,
    ttl_ms: int,
) -> DataFrame:
    """EVENT-time TTL variant: keys whose last-seen event time trails
    the watermark by ttl_ms are evicted when the watermark passes
    (epoch-driven expiry like batch-oriented TTL eviction on epoch
    arrival, vs the processing-time wall clock of `ttl_map_stream`).
    Same user contract: fn(key, pdfs, state) -> (rows_out, new_state).
    Requires withWatermark upstream."""
    from .stateful_op import stateful_op_stream

    def on_data(key, pdfs, state, _timers):
        inner = state[0] if state else None
        last_ts_ms = 0
        batches = []
        for pdf in pdfs:
            batches.append(pdf)
            ts_cols = [c for c in pdf.columns if str(pdf[c].dtype).startswith("datetime64")]
            if ts_cols:
                m = pdf[ts_cols[0]].max()
                last_ts_ms = max(last_ts_ms, int(m.value // 1_000_000))
        outs, new_inner = fn(key, iter(batches), inner)
        if new_inner is None:
            return outs, None, []
        return outs, (new_inner,), [last_ts_ms + ttl_ms]

    def on_timer(key, fired_at_ms, state):
        return [], None, []  # expiry: drop the key's state silently

    return stateful_op_stream(
        sdf, key_cols, on_data, on_timer, output_schema, f"inner struct<{state_schema}>"
    )
