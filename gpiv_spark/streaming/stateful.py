"""Custom stateful streaming operator: gap-based sessionization.

The batch engine sessionizes with window functions (queries_misc._SESS_SQL);
the streaming twin keeps the OPEN session CLUSTERS per user in state and
emits a session row once it is provably final. ``applyInPandasWithState``
is the Spark shape for stateful operators the built-ins can't express
(BASELINE north-rule: custom stateful ops): state is a compact row per
key, events stream through in Arrow batches, and the watermark bounds
both state size and emission.

Out-of-order events ACROSS micro-batches (any event with ts >= watermark
may arrive arbitrarily late) mean a single (start, last) open session is
not enough state: a straggler older than the open session's last event
can open its own earlier session, or retroactively bridge two clusters.
State is therefore the full list of open sub-session clusters
(start, last, n, total) — sessionization is associative on clusters
(sort by start, merge neighbors whose gap-distance allows), so replaying
each batch's events as singleton clusters into the state list reproduces
the batch semantics exactly regardless of arrival order. A cluster is
emitted only when ``last + gap <= watermark``: every future event has
``ts >= watermark > last + gap >= start`` and so can merge with neither
end of the cluster — emission is final by construction, never a guess.
The per-key timeout is the earliest surviving cluster deadline.

State stays bounded: clusters other than the latest can only exist
within the watermark horizon (older ones emit), so the list length is
O(late-window / gap), not O(events).

Cross-check: tests/test_streaming_stateful.py drives a bounded input —
including a shuffled two-batch out-of-order split under a lenient
watermark — and compares the closed sessions against the batch
sessionizer's output on the same events: streaming and batch must agree
exactly.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = ("user_id long, start_ms long, n_events long, "
              "total_value double")
STATE_SCHEMA = ("starts array<long>, lasts array<long>, ns array<long>, "
                "tots array<double>")


_TS_NS = np.dtype("datetime64[ns]")


def event_ms(rows: pd.DataFrame, col: str = "ts") -> np.ndarray:
    """Epoch milliseconds of an event-time column, through a zero-copy
    int64 view. Only a tz-naive datetime64[ns] column has that layout: a
    tz-aware one comes back as Timestamp objects and another unit would
    scale wrongly, so both fail loudly here instead of yielding garbage.
    Shared by every streaming operator."""
    ts = rows[col]
    if ts.dtype != _TS_NS:
        raise TypeError(f"event-time column {col!r} must be tz-naive "
                        f"datetime64[ns], got {ts.dtype}")
    return ts.to_numpy().view("int64") // 1_000_000


def interval_ms(interval: str) -> int:
    """'30 minutes' -> 1_800_000. Shared by every streaming operator so
    the unit table cannot drift between them."""
    qty, unit = interval.split()
    mult = {"seconds": 1_000, "second": 1_000, "minutes": 60_000,
            "minute": 60_000, "hours": 3_600_000, "hour": 3_600_000,
            "days": 86_400_000, "day": 86_400_000}
    if unit not in mult:
        raise ValueError(f"unsupported interval unit {unit!r} in "
                         f"{interval!r} (use seconds/minutes/hours/days)")
    return int(qty) * mult[unit]


def _merge_clusters(clusters: list[list], gap_ms: int) -> list[list]:
    """Coalesce [start, last, n, tot] clusters sorted by start: adjacent
    clusters belong to one session iff the later one starts within
    gap_ms of the earlier one's last event (the batch split rule)."""
    clusters.sort(key=lambda c: (c[0], c[1]))
    out: list[list] = []
    for c in clusters:
        if out and c[0] - out[-1][1] <= gap_ms:
            out[-1][1] = max(out[-1][1], c[1])
            out[-1][2] += c[2]
            out[-1][3] += c[3]
        else:
            out.append(list(c))
    return out


def _make_session_fn(gap_ms: int):
    def _flush(user_id: int, clusters: list[list], wm: int,
               state: GroupState):
        """Emit every cluster final under the watermark; persist the
        rest with the earliest surviving deadline as the timeout."""
        emit = [c for c in clusters if c[1] + gap_ms <= wm]
        keep = [c for c in clusters if c[1] + gap_ms > wm]
        if keep:
            state.update((
                [int(c[0]) for c in keep], [int(c[1]) for c in keep],
                [int(c[2]) for c in keep], [float(c[3]) for c in keep],
            ))
            state.setTimeoutTimestamp(min(c[1] + gap_ms for c in keep))
        elif state.exists:
            state.remove()
        if emit:
            # dict-of-lists construction: ~2x cheaper than row tuples
            # for the tiny frames this yields once per key — at 1e6
            # keys per micro-batch the per-key constant IS the
            # operator's cost (round-6 state-scale bench)
            yield pd.DataFrame({
                "user_id": [user_id] * len(emit),
                "start_ms": [int(c[0]) for c in emit],
                "n_events": [int(c[2]) for c in emit],
                "total_value": [float(c[3]) for c in emit],
            })

    def fn(key: Any, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        user_id = int(key[0])
        clusters: list[list] = []
        if state.exists:
            starts, lasts, ns, tots = state.get
            clusters = [[int(s), int(l), int(n), float(t)]
                        for s, l, n, t in zip(starts, lasts, ns, tots)]
        wm = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            yield from _flush(user_id, clusters, wm, state)
            return
        # single-batch fast path + zero-copy int64 view of the
        # datetime64[ns] column: pd.concat and Series.astype cost
        # ~100 us per call, which dominates at 1e6 single-pdf keys
        batches = list(pdfs)
        for rows in batches:
            ms = event_ms(rows)
            vals = rows["value"].to_numpy()
            clusters.extend([int(t), int(t), 1, float(v)]
                            for t, v in zip(ms, vals))
        clusters = _merge_clusters(clusters, gap_ms)
        yield from _flush(user_id, clusters, wm, state)

    return fn


def stream_sessionize(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "0 seconds") -> DataFrame:
    """events(user_id long, event_id long, ts timestamp, value double)
    [streaming] -> closed sessions (OUT_SCHEMA), append mode."""
    gap_ms = interval_ms(gap)
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_session_fn(gap_ms),
            OUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
