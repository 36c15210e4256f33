"""Streaming funnel analysis: the continuous counterpart of
operators/funnel.py.

Funnel matching needs per-user GLOBAL time order, but a stream
delivers events in arrival order — an early 'view' can arrive three
micro-batches after the 'purchase' it unlocks, retroactively changing
every step time. The stateful formulation therefore keeps, per user,
the sorted times of that user's funnel-relevant events (one list per
step) and re-derives the greedy chain each time the user's state
changes — exact under ANY batch schedule, pinned against the batch
operator in tests and the oracle gate.

State is bounded by the user's funnel-relevant event count (never the
stream length): step-1 keeps only its minimum (only the earliest
first-step event can ever matter), later steps keep their time lists
because the chain's lower bound can retroactively DECREASE as earlier
events arrive, making previously-ineligible times eligible.

Two opt-in state bounds make the operator deployable on unbounded
streams (without them a hot user's step-k list grows with that user's
funnel-relevant event count forever):

- ``window`` (µs) — the batch operator's per-chain bound (every step
  within ``window`` of t1), enforced in-operator. It licenses an
  exact watermark prune of the stored lists (see ``_prune_lists``):
  state per user becomes O(events inside one window span), and the
  emitted chain equals ``operators.funnel.funnel_steps`` with the
  same ``window`` on the final states.
- ``idle_ttl_ms`` — a processing-time GC for users silent longer than
  the TTL (``GroupStateTimeout.ProcessingTimeTimeout``): state is
  dropped (a returning user restarts their funnel), trading exactness
  under arbitrarily-late re-appearance for bounded total state.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import functions as F


def _wm_us(state: GroupState) -> int:
    """Current watermark in µs, 0 when no watermark is set upstream.

    pyspark 4.1.2 raises PySparkRuntimeError from
    ``getCurrentWatermarkMs`` when the query has no ``withWatermark``
    — the documented no-watermark fallback (prune lower bound stays 0,
    only t1-relative bounds apply) needs the 0 default, not a crash.
    """
    try:
        return state.getCurrentWatermarkMs() * 1000
    except Exception:  # PySparkRuntimeError: watermark not set
        return 0


def _prune_lists(
    lists: list[list[int]], wm_us: int, window: int
) -> list[list[int]]:
    """Drop stored step times that can never again join a chain —
    EXACT given the window semantics (each step strictly after the
    previous, within ``window`` of t1) and the watermark contract
    (no future event carries time < ``wm_us``).

    Let t1 be the stored step-1 minimum (+∞ if none). The final chain
    start t1' is the minimum of t1 and future step-1 arrivals, so
    t1' ≥ L = min(t1, wm_us) — and t1' ≤ t1, since a minimum only
    decreases. For a stored step-k (k ≥ 2) time t:

    - t ≤ L: the chain needs t > t1' ≥ L ≥ t — impossible. Drop.
    - t1 finite and t > t1 + window: the chain needs
      t ≤ t1' + window ≤ t1 + window < t — impossible. Drop.

    Everything kept can still be picked by the windowed greedy chain,
    so pruned state and full state yield identical emissions.
    """
    if not lists or window is None:
        return lists
    t1 = lists[0][0] if lists[0] else None
    lo = wm_us if t1 is None else min(t1, wm_us)
    hi = None if t1 is None else t1 + window
    out = [lists[0]]
    for lst in lists[1:]:
        out.append(
            [t for t in lst if t > lo and (hi is None or t <= hi)]
        )
    return out


def _greedy_chain(
    lists: list[list[int]], k: int, window: int | None
) -> list[int | None]:
    """The windowed greedy chain over sorted stored times: step i is
    the smallest stored time strictly after step i-1 (and within
    ``window`` of t1 when set) — exactly
    ``operators.funnel.funnel_steps`` semantics."""
    times: list[int | None] = [None] * k
    if lists[0]:
        times[0] = lists[0][0]
        prev = times[0]
        hi = None if window is None else times[0] + window
        for i in range(1, k):
            nxt = next(
                (t for t in lists[i] if t > prev and (hi is None or t <= hi)),
                None,
            )
            if nxt is None:
                break
            times[i] = nxt
            prev = nxt
    return times


def make_funnel_update(
    steps: list[str],
    user_col: str,
    type_col: str,
    time_col: str,
    window: int | None,
    idle_ttl_ms: int | None,
    event_age_ms: int | None = None,
):
    """Build the applyInPandasWithState update function (module-level
    factory, so tests can drive the state transition directly with a fake
    GroupState — the bounded-state property under a 10k-event replay
    is asserted without a 10k-row streaming run)."""
    k = len(steps)
    step_idx = {s: i for i, s in enumerate(steps)}

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # TTL GC (processing-time idle_ttl_ms or event-time
            # event_age_ms): the user went silent past the bound — drop
            # their partial funnel (no emission: their last emitted
            # chain remains the final word)
            state.remove()
            return
        if state.exists:
            stored = state.get
            lists = [list(stored[i] or []) for i in range(k)]
            seq = int(stored[k])
        else:
            lists, seq = [[] for _ in range(k)], 0
        changed = False
        for pdf in pdfs:
            for ty, t in zip(pdf[type_col], pdf[time_col]):
                i = step_idx.get(ty)
                if i is None:
                    continue
                t = int(t)
                if i == 0:
                    # only the earliest step-1 event can matter
                    if not lists[0] or t < lists[0][0]:
                        lists[0] = [t]
                        changed = True
                else:
                    lists[i].append(t)
                    changed = True
        def arm(cur_lists: list[list[int]]) -> None:
            if idle_ttl_ms is not None:
                state.setTimeoutDuration(idle_ttl_ms)
            elif event_age_ms is not None:
                # event-time TTL: fires when the WATERMARK (not the
                # wall clock) passes the user's newest stored event by
                # event_age_ms — so an availableNow replay, which
                # advances the watermark batch-by-batch but not the
                # wall clock, still bounds state (idle_ttl_ms cannot)
                mx = max((lst[-1] for lst in cur_lists if lst), default=None)
                if mx is None:
                    # every stored list is empty (late step-2+ events
                    # all pruned, step 1 never seen): the entry carries
                    # no information, and an UNARMED entry never times
                    # out — the exact leak the event-time TTL exists to
                    # prevent. Drop it outright.
                    if state.exists:
                        state.remove()
                    return
                # Spark requires the timeout timestamp to be beyond
                # the current watermark; a user already expired
                # under the new watermark arms for the next batch
                ts = mx // 1000 + event_age_ms
                state.setTimeoutTimestamp(max(ts, _wm_us(state) // 1000 + 1))

        if not changed:
            if state.exists:
                arm(lists)
            return
        for i in range(1, k):
            # sorted DISTINCT times: the greedy chain picks minima, so
            # a duplicate time can never change it — and without the
            # dedupe a replayed event (at-least-once sources redeliver)
            # grows state on every redelivery
            lists[i] = sorted(set(lists[i]))
        if window is not None:
            lists = _prune_lists(lists, _wm_us(state), window)
        seq += 1
        state.update(tuple(lists) + (seq,))
        arm(lists)
        times = _greedy_chain(lists, k, window)
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                **{f"t{i + 1}": [times[i]] for i in range(k)},
                "seq": [seq],
            }
        )

    return update


def streaming_funnel_states(
    stream: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    time_col: str = "ts_us",
    window: int | None = None,
    idle_ttl_ms: int | None = None,
    event_age_ms: int | None = None,
) -> DataFrame:
    """Per-user funnel step times over a stream (update mode): emits
    (user, t1..tk, seq) whenever a user's chain may have changed;
    ``seq`` increments per emission, so the CURRENT chain is the
    max-seq row per user. Step semantics match
    ``operators.funnel.funnel_steps`` with the same ``window``:
    strictly increasing times; with ``window`` set every step is
    bounded to t1 + window IN-OPERATOR and the stored lists are
    watermark-pruned (exact — see ``_prune_lists``; attach
    ``withWatermark`` upstream or the prune's lower bound stays 0 and
    only the t1-relative bounds apply). Without a window the chain is
    unbounded (a window needs t1 to be final, which a stream cannot
    know; apply it downstream when reading the final states) and
    ``idle_ttl_ms`` offers the GC alternative: drop state for users
    idle past the TTL. ``idle_ttl_ms`` keeps the micro-batch loop
    alive to fire timeouts, so leave it None for availableNow
    drain-and-stop replays — for replays use ``event_age_ms`` instead: an EVENT-TIME TTL that drops
    a user once the watermark passes their newest stored event by
    ``event_age_ms``. The watermark advances during an availableNow
    drain even though the wall clock effectively doesn't, so
    ``event_age_ms`` bounds state under replay where ``idle_ttl_ms``
    fires nothing. Requires ``withWatermark`` upstream (Spark's
    EventTimeTimeout contract); mutually exclusive with
    ``idle_ttl_ms``.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    if window is not None and window <= 0:
        raise ValueError(f"window must be positive µs, got {window}")
    if idle_ttl_ms is not None and idle_ttl_ms <= 0:
        idle_ttl_ms = None
    if event_age_ms is not None and event_age_ms <= 0:
        event_age_ms = None
    if idle_ttl_ms is not None and event_age_ms is not None:
        raise ValueError(
            "idle_ttl_ms and event_age_ms are mutually exclusive "
            "(Spark supports one timeout conf per stateful operator)"
        )
    k = len(steps)
    reserved = {"seq", *(f"t{i + 1}" for i in range(k))}
    if user_col in reserved:
        raise ValueError(
            f"user_col {user_col!r} collides with a generated output column "
            f"({sorted(reserved)}); rename the key column first"
        )
    state_schema = (
        ", ".join(f"s{i} array<bigint>" for i in range(k)) + ", seq bigint"
    )
    # key column keeps the caller's name and type — hardcoding
    # "user_id bigint" would silently rename/retype the key for any
    # non-default user_col
    user_dt = stream.schema[user_col].dataType.simpleString()
    out_schema = (
        f"`{user_col}` {user_dt}, "
        + ", ".join(f"t{i + 1} bigint" for i in range(k))
        + ", seq bigint"
    )
    update = make_funnel_update(
        steps, user_col, type_col, time_col, window, idle_ttl_ms, event_age_ms
    )
    if idle_ttl_ms is not None:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    elif event_age_ms is not None:
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.NoTimeout
    return (
        stream.groupBy(F.col(user_col))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout,
        )
    )
