"""Custom stateful streaming operator: exact-dedup with first-seen winner.

Batch exact dedup is a hash groupBy (queries_text.q_dedup_exact); on a
stream that grows forever the same question is "which doc arrived FIRST
with this content, and how many duplicates followed?". Spark's built-in
`dropDuplicates` on a stream keeps whichever row a microbatch happened
to deliver first and never reports duplicate counts, so this is an
`applyInPandasWithState` operator like streaming/stateful.py: state per
content key holds (first_doc by event time, event-time span, dup
count); the group closes — and emits its one summary row — when the
event-time watermark passes ``horizon`` beyond the group's newest
arrival. Bounded state at 10^12 docs: only groups still inside the
horizon are live, everything older has been emitted and dropped.

Grouping key is ``(xxhash64(text), length(text))`` — the shuffle and
the state store carry two int64s instead of the document text, which
is what a 10^12-doc deployment requires. The length as a second key
component makes any accidental 64-bit hash collision visible (two
different texts colliding in BOTH xxhash64 and length would merge;
colliding in hash alone cannot). ``key_by_text=True`` restores raw
text keys for small exact fixtures.

Cross-check: the driver gate (queries_misc.q_stream_dedup) plants one
later-arriving duplicate for every third document and demands the
winner be the ORIGINAL doc_id and the counts match the plant — first
arrival decided by event time, not microbatch luck.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gpiv_spark.streaming.stateful import event_ms, interval_ms

OUT_SCHEMA = "first_doc long, n_docs long, len_chars long"
STATE_SCHEMA = ("first_doc long, first_ms long, last_ms long, "
                "n_docs long, len_chars long")


def _make_dedup_fn(horizon_ms: int, key_by_text: bool):
    def fn(key: Any, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            first_doc, _first_ms, _last_ms, n, lc = state.get
            state.remove()
            yield pd.DataFrame({"first_doc": [first_doc], "n_docs": [n],
                                "len_chars": [lc]})
            return
        # single-batch fast path + zero-copy int64 view (cf.
        # stateful.py): the per-key pandas constants dominate at
        # 1e6-key micro-batches
        batches = list(pdfs)
        rows = (batches[0] if len(batches) == 1
                else pd.concat(batches, ignore_index=True))
        ms = event_ms(rows)
        docs = rows["doc_id"].to_numpy()
        # batch winner: min (event_ms, doc_id) — arrival order within or
        # across microbatches must not matter
        b = min(zip(ms.tolist(), docs.tolist()))
        if state.exists:
            first_doc, first_ms, last_ms, n, lc = state.get
            if (b[0], b[1]) < (first_ms, first_doc):
                first_ms, first_doc = b
        else:
            first_ms, first_doc = b
            last_ms, n = 0, 0
            # key is (text,) or (text_hash, len_chars) — the length is
            # recoverable from the key either way, never from the rows
            lc = len(key[0]) if key_by_text else int(key[1])
        n += len(rows)
        last_ms = max(last_ms, int(ms.max()))
        deadline = last_ms + horizon_ms
        wm = state.getCurrentWatermarkMs()
        if deadline <= wm:
            # watermark already beyond this group's horizon: closed by
            # definition (cf. stateful.py's late-group path)
            state.remove()
            yield pd.DataFrame({"first_doc": [first_doc], "n_docs": [n],
                                "len_chars": [lc]})
        else:
            state.update((first_doc, first_ms, last_ms, n, lc))
            state.setTimeoutTimestamp(deadline)

    return fn


def stream_dedup_first(docs: DataFrame, horizon: str = "1 hour",
                       watermark: str = "0 seconds",
                       key_by_text: bool = False) -> DataFrame:
    """docs(doc_id long, text string, ts timestamp) [streaming] ->
    one (first_doc, n_docs, len_chars) row per distinct text, emitted
    when the watermark passes the group's newest arrival + horizon.

    Default grouping is (xxhash64(text), length(text)) — int64 shuffle
    and state keys (see module docstring); only doc_id and ts reach the
    stateful operator, the text never leaves the map side."""
    from pyspark.sql import functions as F

    horizon_ms = interval_ms(horizon)
    wm = docs.withWatermark("ts", watermark)
    if key_by_text:
        grouped = wm.groupBy("text")
    else:
        grouped = wm.select(
            F.xxhash64("text").alias("text_hash"),
            F.length("text").cast("long").alias("len_chars"),
            "doc_id", "ts",
        ).groupBy("text_hash", "len_chars")
    return grouped.applyInPandasWithState(
        _make_dedup_fn(horizon_ms, key_by_text),
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
