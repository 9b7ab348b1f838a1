"""Custom stateful streaming operator via applyInPandasWithState.

Per-user running totals with arbitrary user-defined state — the pattern
for operators Structured Streaming's built-ins can't express (custom
session logic, decaying counters, fraud scores). State is partitioned
by the grouping key across executors and checkpointed by the engine;
Arrow batches keep the Python boundary cheap.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

OUT_SCHEMA = (
    "user_id LONG, batch_events LONG, total_events LONG, total_value DOUBLE"
)
STATE_SCHEMA = "total_events LONG, total_value DOUBLE"


def user_running_totals(events: DataFrame) -> DataFrame:
    """Emit one row per (user, microbatch) carrying running totals held
    in GroupState. Output mode: update."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = 0
        v = 0.0
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        te, tv = state.get if state.exists else (0, 0.0)
        te += n
        tv += v
        state.update((te, tv))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "batch_events": [n],
                "total_events": [te],
                "total_value": [tv],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, OUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )


# --------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary-state API): gap-based
# sessionization driven by EVENT-TIME TIMERS — the operator shape the
# older applyInPandasWithState cannot express (it has no timers; it
# could only close sessions when the key happened to receive new rows
# or via processing-time timeouts, which are wall-clock-dependent).
#
# ENVIRONMENT BOUNDARY: executing this operator needs RocksDB state
# store (config'd by callers) AND the `google.protobuf` package for
# the tWS python driver worker — absent from this container, so the
# end-to-end test auto-skips (tests/test_session_timers.py documents
# it); the sessionization/merge logic is pinned directly.
# --------------------------------------------------------------------

SESSION_TIMER_OUT_SCHEMA = "user_id LONG, start_us LONG, n_events LONG"
_SESSION_STATE_SCHEMA = "start_us LONG, last_us LONG, n_events LONG"


class SessionTimerProcessor(StatefulProcessor):
    """Per-user gap sessions held in ListState; a timer at
    last_event + gap closes (emits) each session when the WATERMARK
    passes it — so a session only leaves state once no in-watermark
    event can still extend it. Append-mode semantics: still-open
    sessions at end of stream are withheld, exactly like the built-in
    session_window in append mode.

    Robust to any microbatch split of an in-watermark stream: each
    batch interval-merges its events into the stored sessions (a point
    landing in the gap between two stored sessions fuses all three,
    counts add), then re-registers one timer per open session.
    """

    def __init__(self, gap_s: int = 1800):
        self.gap_us = gap_s * 1_000_000
        self.gap_ms = gap_s * 1000

    def init(self, handle) -> None:
        self.handle = handle
        self.sessions = handle.getListState("sessions", _SESSION_STATE_SCHEMA)

    def close(self) -> None:
        pass

    def _merged(self, new_times: list[int]) -> list[tuple[int, int, int]]:
        intervals = [
            (int(s), int(l), int(n)) for s, l, n in self.sessions.get()
        ] + [(t, t, 1) for t in new_times]
        intervals.sort()
        out: list[tuple[int, int, int]] = []
        for s, l, n in intervals:
            # An event AT prev_last + gap starts a NEW session (the
            # [start, last + gap) session_window rule) — hence strict <.
            if out and s < out[-1][1] + self.gap_us:
                ps, pl, pn = out[-1]
                out[-1] = (ps, max(pl, l), pn + n)
            else:
                out.append((s, l, n))
        return out

    def handleInputRows(self, key, rows, timerValues):
        times: list[int] = []
        for pdf in rows:
            times.extend(int(x) for x in pdf["us"])
        merged = self._merged(times)
        self.sessions.put(merged)
        for expiry in list(self.handle.listTimers()):
            self.handle.deleteTimer(expiry)
        for _, last_us, _ in merged:
            self.handle.registerTimer(last_us // 1000 + self.gap_ms)
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        wm = timerValues.getCurrentWatermarkInMs()
        keep, emit = [], []
        for s, l, n in ((int(a), int(b), int(c)) for a, b, c in self.sessions.get()):
            (emit if l // 1000 + self.gap_ms <= wm else keep).append((s, l, n))
        self.sessions.put(keep)
        if not emit:
            return iter(())
        return iter(
            [
                pd.DataFrame(
                    {
                        "user_id": [int(key[0])] * len(emit),
                        "start_us": [s for s, _, _ in emit],
                        "n_events": [n for _, _, n in emit],
                    }
                )
            ]
        )

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass


def session_summaries_with_timers(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Closed per-user sessions via transformWithStateInPandas with
    event-time timers (output: user_id, start_us, n_events)."""
    from pyspark.sql import functions as F

    from minoan_athenaeum_spark.streaming.ops import watermarked

    proc = SessionTimerProcessor(gap_s)
    keyed = (
        watermarked(events, "ts", "0 seconds")
        .select("ts", "user_id", F.unix_micros(F.col("ts")).alias("us"))
        .groupBy("user_id")
    )
    return keyed.transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=SESSION_TIMER_OUT_SCHEMA,
        outputMode="append",
        timeMode="eventTime",
    )
