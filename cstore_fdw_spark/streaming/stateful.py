"""Custom stateful streaming operator via ``applyInPandasWithState`` —
the escape hatch for stateful semantics Spark's built-in windows can't
express (SURVEY §2.B streaming row: 'applyInPandasWithState for custom
stateful operators').

Operator: per-user running spend monitor. State = (event_count,
total_value); every micro-batch updates the state and emits the user's
running totals plus a ``big_spender`` flag once total_value crosses a
threshold. State expires after 1 hour of event-time inactivity (timeout →
bounded state at 100 TB)."""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

BIG_SPENDER_THRESHOLD = 10_000.0

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_count", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
    T.StructField("big_spender", T.BooleanType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("event_count", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])


def _make_update_fn(with_timeout: bool):
    def update_user_state(key, pdfs: Iterable[pd.DataFrame],
                          state: GroupState) -> Iterable[pd.DataFrame]:
        """Fold each micro-batch's rows for one user into running state."""
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        if with_timeout:
            state.setTimeoutDuration(3600 * 1000)  # 1h inactivity → dropped
        yield pd.DataFrame({
            "user_id": [user_id],
            "event_count": [count],
            "total_value": [total],
            "big_spender": [total >= BIG_SPENDER_THRESHOLD],
        })
    return update_user_state


def running_spend(events: DataFrame, with_timeout: bool = False) -> DataFrame:
    """Streaming per-user running totals with custom state.

    ``with_timeout=True`` adds a 1-hour inactivity timeout so state stays
    bounded on an unbounded deployment. Leave it off for drain-and-stop
    (availableNow) runs: with a timeout configured the engine keeps
    scheduling timeout-processing micro-batches and an availableNow query
    never terminates.
    """
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if with_timeout
               else GroupStateTimeout.NoTimeout)
    return (events
            .groupBy("user_id")
            .applyInPandasWithState(
                _make_update_fn(with_timeout),
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=timeout))


# ------------------------------------------------- sequence-pattern match

PATTERN_WINDOW_US = 30 * 60 * 1_000_000  # signup→purchase within 30 min

MATCH_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("signup_us", T.LongType()),
    T.StructField("purchase_us", T.LongType()),
    T.StructField("micros_between", T.LongType()),
])

#: how long (event time) an unmatched purchase is buffered in state
#: waiting for a late signup — the operator's out-of-order tolerance.
#: A purchase p can only ever match a signup s ∈ [p − W, p); once the
#: user's max seen event time passes p + delay, any such s would itself
#: be later than the tolerated disorder, so p is dropped — state stays
#: bounded at O(purchases per user per delay window).
PATTERN_DISORDER_US = PATTERN_WINDOW_US

#: NOTE (checkpoint compatibility): this schema grew from 1 field
#: (round 3: signup anchor only) to 3 in round 4 and 4 in round 5 —
#: ``applyInPandasWithState`` state schemas are frozen into streaming
#: checkpoints, so a query restarted from an older checkpoint must
#: start from a fresh checkpoint location (the same contract as
#: changing any stateful operator's schema in Structured Streaming).
PATTERN_STATE_SCHEMA = T.StructType([
    T.StructField("signup_us", T.LongType()),
    T.StructField("pending_purchases", T.ArrayType(T.LongType())),
    T.StructField("max_seen_us", T.LongType()),
    # update mode only: purchases already emitted, retained inside the
    # disorder horizon so a later-arriving EARLIER signup can re-emit
    # them with the corrected anchor (always [] in append mode)
    T.StructField("emitted_purchases", T.ArrayType(T.LongType())),
])


def _make_pattern_update(update_mode: bool):
    def _pattern_update(key, pdfs: "Iterable[pd.DataFrame]",
                        state: GroupState) -> "Iterable[pd.DataFrame]":
        """Per-user A-then-B matcher: remember the EARLIEST signup seen;
        emit a match for every purchase within the pattern window after
        it. State per user = one long (the signup anchor) + a bounded
        buffer of not-yet-matched purchases (out-of-order tolerance: a
        purchase whose signup arrives in a LATER micro-batch is held for
        ``PATTERN_DISORDER_US`` of event time and matched when the
        signup lands — the canonical CEP building block; Spark's
        built-in windows can't express 'first A, then any B within T of
        it' because the anchor is data-dependent, not clock-aligned).

        In update mode the state also keeps already-emitted purchases
        within the disorder horizon: when a late signup IMPROVES the
        anchor (event time before the current one), each such purchase
        is re-emitted with the corrected anchor — downstream reduces by
        min(signup_us) per (user_id, purchase_us)."""
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            signup_us, pending, max_seen, emitted = state.get
            pending = list(pending or [])
            emitted = list(emitted or [])
        else:
            signup_us, pending, max_seen, emitted = None, [], None, []
        events = []
        for pdf in pdfs:
            for us, etype in zip(pdf["us"], pdf["event_type"]):
                events.append((int(us), etype))
        events.sort()  # event-time order within the batch
        # replay buffered purchases alongside the new batch: a signup in
        # this batch may anchor purchases that arrived in earlier batches
        merged = sorted([(us, "purchase") for us in pending] + events)
        rows = []
        keep: list[int] = []
        for us, etype in merged:
            if etype == "signup":
                if signup_us is None or us < signup_us:
                    signup_us = us
                    if update_mode:
                        # the anchor moved earlier: correct prior matches
                        # (processing is event-time ordered, so purchases
                        # of THIS batch after the signup match directly)
                        for p in emitted:
                            if 0 < p - signup_us <= PATTERN_WINDOW_US:
                                rows.append((user_id, signup_us, p,
                                             p - signup_us))
            elif etype == "purchase":
                if (signup_us is not None
                        and 0 < us - signup_us <= PATTERN_WINDOW_US):
                    rows.append((user_id, signup_us, us, us - signup_us))
                    if update_mode:
                        emitted.append(us)
                else:
                    keep.append(us)
        batch_max = max((us for us, _ in events), default=None)
        if batch_max is not None:
            max_seen = (batch_max if max_seen is None
                        else max(max_seen, batch_max))
        # expire buffers past the disorder horizon (bounded state): a
        # future in-tolerance signup s satisfies s > max_seen − disorder,
        # and it can only (re-)anchor purchases p > s — so older entries
        # can never be matched or corrected again
        if max_seen is not None:
            horizon = max_seen - PATTERN_DISORDER_US
            keep = [us for us in keep if us > horizon]
            emitted = [us for us in emitted if us > horizon]
        if signup_us is None and not keep and not emitted:
            # nothing worth remembering (every buffered purchase expired,
            # no anchor yet): drop the state row instead of retaining a
            # max_seen-only tombstone for every user ever seen. Users
            # WITH an anchor keep one small state row for the stream's
            # lifetime — inherent to "FIRST signup per user" semantics
            # (a bounded timeout would silently re-anchor on a later
            # signup).
            if state.exists:
                state.remove()
        else:
            state.update((signup_us, keep, max_seen, emitted))
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in MATCH_SCHEMA])
    return _pattern_update


def signup_purchase_pattern(events: DataFrame,
                            mode: str = "append") -> DataFrame:
    """Streaming sequence-pattern detection (CEP): first signup per user,
    then every purchase within 30 minutes of it. The batch equivalent is
    a min-aggregate + interval join; here the per-user state is the
    signup anchor plus a disorder-bounded buffer of unmatched purchases,
    so a purchase arriving in an EARLIER micro-batch than its signup
    still matches once the signup lands (tolerance
    ``PATTERN_DISORDER_US`` of event time).

    ``mode="append"`` (default): a signup arriving later than an
    already-emitted match's anchor can't retract the emitted row
    (append-mode CEP has no retractions — Flink CEP's allowed-lateness
    contract). ``mode="update"`` closes that gap: the corrected match is
    RE-EMITTED with the revised (earlier) anchor; the correction stream
    reduces to the batch answer by min(signup_us) per
    (user_id, purchase_us). Corrections reach back
    ``PATTERN_DISORDER_US`` of event time (state stays bounded)."""
    from pyspark.sql import functions as F

    if mode not in ("append", "update"):
        raise ValueError(f"unknown CEP output mode: {mode!r}")
    prepared = events.select(
        "user_id", "event_type",
        F.unix_micros("ts").alias("us"))
    return (prepared.groupBy("user_id")
            .applyInPandasWithState(
                _make_pattern_update(mode == "update"),
                outputStructType=MATCH_SCHEMA,
                stateStructType=PATTERN_STATE_SCHEMA,
                outputMode=mode,
                timeoutConf=GroupStateTimeout.NoTimeout))

