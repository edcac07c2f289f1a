"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState``.

The batch form (plans/events_queries.q40) is a window+lag cumsum; the
streaming form keeps one small state row per user (open session:
start, last-seen, count, index) and emits a session as soon as a gap
closes it. State is per-key and O(1), so the operator scales with
distinct users, not events — the watermark/timeout story for truly
unbounded streams plugs into the same hook (GroupStateTimeout).

Sessions still open when the stream drains stay in state (exactly
what a real pipeline wants); the test closes the loop by checking
emitted sessions equal the batch result minus each user's final
(still-open) session.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id bigint, session_idx bigint, n_events bigint, "
    "session_start timestamp, session_end timestamp"
)
STATE_SCHEMA = "start_us bigint, last_us bigint, n bigint, sid bigint"

_GAP_US = 1800 * 1_000_000


def _sessionize_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    ts_us = (rows["ts"].astype("int64") // 1000).tolist()  # ns → µs

    if state.exists:
        start_us, last_us, n, sid = state.get
    else:
        start_us = last_us = None
        n = 0
        sid = 0

    closed = []
    for t in ts_us:
        if last_us is None:
            sid += 1
            start_us, last_us, n = t, t, 1
        elif t - last_us > _GAP_US:
            closed.append((user_id, sid, n, start_us, last_us))
            sid += 1
            start_us, last_us, n = t, t, 1
        else:
            # last_us must never move BACKWARD: a late event from a
            # previous batch (file source gives no cross-batch order)
            # joins the open session without rewinding its clock —
            # otherwise a later on-time event could measure its gap
            # against the stale early timestamp and close sessions the
            # batch recompute keeps open. (True late-data handling
            # needs a watermark; this keeps the no-late-data case
            # exactly batch-equal and degrades monotonically.)
            last_us, n = max(last_us, t), n + 1
            start_us = min(start_us, t)

    state.update((start_us, last_us, n, sid))
    out = pd.DataFrame(
        closed, columns=["user_id", "session_idx", "n_events", "_start_us", "_end_us"]
    )
    out["session_start"] = pd.to_datetime(out["_start_us"], unit="us")
    out["session_end"] = pd.to_datetime(out["_end_us"], unit="us")
    yield out[["user_id", "session_idx", "n_events", "session_start", "session_end"]]


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """events stream → closed-session stream (append mode)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TERM_OUTPUT_SCHEMA = "term string, total bigint, batch_delta bigint"
TERM_STATE_SCHEMA = "total bigint"


def _term_count_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (term,) = key
    delta = int(sum(len(pdf) for pdf in pdfs))
    total = (state.get[0] if state.exists else 0) + delta
    state.update((total,))
    yield pd.DataFrame({"term": [term], "total": [total], "batch_delta": [delta]})


def streaming_term_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Running corpus term counts over a document stream: the
    vocabulary-statistics feed (fertility, coverage, drift dashboards)
    maintained incrementally instead of recomputed per batch.

    Tokens explode map-side; state is ONE bigint per distinct term
    (vocabulary-sized ≪ stream, Heaps' law), updated via
    ``applyInPandasWithState`` and emitted as (term, running total,
    this-batch delta) in update mode. Arrow-batched like the
    sessionizer — no per-row Python.
    """
    from pipeline_usnvc_spark.functions.text import tokens as tokenize

    toks = docs.select(F.explode(tokenize(text_col)).alias("term"))
    return toks.groupBy("term").applyInPandasWithState(
        _term_count_group,
        outputStructType=TERM_OUTPUT_SCHEMA,
        stateStructType=TERM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming near-duplicate detection: a persistent MinHash-LSH band
# index maintained as keyed state. Incoming documents hash to band
# signatures MAP-SIDE (operators/dedup.band_signatures_mapside — zero
# shuffle, stateless, so it is legal on the unbounded stream); the
# stateful operator is keyed by (band, band_sig) and holds the doc
# ids previously seen in that bucket, emitting a candidate pair the
# moment a new document collides with the index — the "dedupe the
# ingestion firehose against everything already ingested" primitive
# a streaming training-data pipeline needs.
#
# State is one id-list per OCCUPIED bucket (bounded by _NEARDUP_CAP
# per bucket — beyond it a real pipeline has found a boilerplate
# cluster and should route it to a block-list, so overflow ids still
# PAIR against the capped list but stop growing the state). Batch
# equivalence (same candidate pair set as lsh_candidate_pairs across
# multi-batch arrival, state carrying buckets across batches) is
# asserted in tests/test_streaming.py.
# ---------------------------------------------------------------------------
NEARDUP_OUTPUT_SCHEMA = "id_a bigint, id_b bigint, band int"
NEARDUP_STATE_SCHEMA = "ids array<bigint>"
_NEARDUP_CAP = 1024


def _neardup_bucket(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    band, _sig = key
    new_ids = sorted({int(x) for pdf in pdfs for x in pdf["doc_id"]})
    seen = sorted(int(x) for x in state.get[0]) if state.exists else []
    seen_set = set(seen)
    new_ids = [n for n in new_ids if n not in seen_set]  # replay-idempotent
    pairs = [
        (min(n, s), max(n, s), band) for n in new_ids for s in seen
    ] + [
        (a, b, band)
        for i, a in enumerate(new_ids)
        for b in new_ids[i + 1 :]
    ]
    merged = (seen + new_ids)[:_NEARDUP_CAP]
    state.update((merged,))
    yield pd.DataFrame(pairs, columns=["id_a", "id_b", "band"])


def streaming_neardup(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """document stream → candidate near-dup pair stream (append)."""
    from pipeline_usnvc_spark.operators.dedup import band_signatures_mapside

    sigs = band_signatures_mapside(
        docs, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
    )
    return sigs.groupBy("band", "band_sig").applyInPandasWithState(
        _neardup_bucket,
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
