"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's reduce phase sees the complete per-key group at once
(reference ``MapReduceClient.h:62-64``) — impossible on an unbounded
stream. This operator is the streaming generalization: per-key state
carried across micro-batches with arbitrary Python update logic, the
Spark primitive for operators that windowed aggregation can't express
(running aggregates with custom merge, decaying counters, online
sketches).

Scale posture: state lives in the state store partitioned by key (RocksDB
provider in production), update logic is Arrow-batched per key-group, and
a timeout (``ProcessingTimeTimeout``/``EventTimeTimeout``) bounds state
for keys that go quiet — the knobs that keep per-key state viable at
100 TB/day.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:
    import pandas as pd


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Per-user running (event count, value sum), one update row per
    user per micro-batch — the streaming form of q04's batch aggregate.

    After the stream drains, the latest row per user equals the batch
    answer (asserted in tests/test_streaming.py).
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "cnt": [cnt], "sum_value": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, cnt bigint, sum_value double",
        stateStructType="cnt bigint, sum_value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(stream: DataFrame) -> DataFrame:
    """Per-user running (event count, value sum) on the
    ``transformWithStateInPandas`` API (Spark 4 state-v2): same
    semantics as :func:`running_user_totals`, but state is a named
    ``ValueState`` in the state store rather than an opaque
    ``GroupState`` tuple.

    Why the new API matters at scale: named state variables
    (value/list/map) are stored and evicted independently, TTL is per
    state variable instead of per key-group timeout, and timers are
    first-class — the shape Spark is converging on for custom stateful
    operators. Convergence to the q04 batch answer is asserted in
    tests/test_streaming.py alongside the v1 operator.

    Transport: the transformWithState worker speaks protobuf to the JVM
    state server, and querying it needs the RocksDB state store provider
    conf (per-state-variable column families). This container ships no
    protobuf wheel, so ``streaming/protoshim.py`` installs the vendored
    clean-room wire-format runtime (``vendor/google/protobuf``) before
    the JVM launches; the convergence test in tests/test_streaming.py
    runs END TO END against the real state server — every message on
    that socket cross-validates the vendored runtime against
    protobuf-java.
    """
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_running_totals_processor()(),
        outputStructType="user_id bigint, cnt bigint, sum_value double",
        outputMode="Update",
        timeMode="None",
    )


def running_user_totals_tws_micro(stream: DataFrame) -> DataFrame:
    """Integer-exact state-v2 running totals: per-user (event count,
    value sum in INTEGER MICRO-UNITS) via transformWithStateInPandas.
    The micro-unit state makes the converged answer bit-identical to
    the batch aggregate regardless of accumulation order — which is
    what lets q189 put a TWS run behind the driver's HASH gate, not a
    tolerance check.  Input needs columns (user_id, vm: bigint)."""
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_micro_totals_processor()(),
        outputStructType="user_id bigint, cnt bigint, sum_micro bigint",
        outputMode="Update",
        timeMode="None",
    )


def event_type_census_tws(stream: DataFrame) -> DataFrame:
    """Per-user per-event-type running counts via state-v2 MAP STATE:
    ``MapState[event_type -> cnt]`` keyed by user — the state shape for
    per-entity categorical censuses where a fixed-width ValueState
    cannot hold the open-ended category domain.  Emits the FULL census
    per user per micro-batch (update-mode snapshot rows), so the last
    emission per (user, event_type) equals the batch
    ``groupBy(user_id, event_type).count()`` — asserted in
    tests/test_streaming.py.

    Transport note: every MapState operation here (GetValue,
    ContainsKey, UpdateValue, Iterator paging) is a distinct
    state-server message family, so this operator end-to-end exercises
    the map-state protobuf paths the running-totals ValueState operator
    never touches.  Input needs columns (user_id, event_type)."""
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_census_processor()(),
        outputStructType="user_id bigint, event_type string, cnt bigint",
        outputMode="Update",
        timeMode="None",
    )


def _make_census_processor():
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class EventTypeCensusProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._census = handle.getMapState(
                "census", "event_type string", "cnt bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            for pdf in rows:
                for et, n in pdf["event_type"].value_counts().items():
                    prev = (
                        self._census.getValue((et,))
                        if self._census.containsKey((et,))
                        else (0,)
                    )
                    self._census.updateValue((et,), (int(prev[0]) + int(n),))
            ets, cnts = [], []
            for (et,), (cnt,) in self._census.iterator():
                ets.append(et)
                cnts.append(int(cnt))
            yield pd.DataFrame(
                {"user_id": [key[0]] * len(ets), "event_type": ets, "cnt": cnts}
            )

        def close(self) -> None:
            pass

    return EventTypeCensusProcessor


def recent_values_tws(stream: DataFrame, k: int = 3) -> DataFrame:
    """Per-user LAST-K event values via state-v2 LIST STATE — the
    bounded-recency feature buffer (e.g. "last 3 transaction amounts")
    a feature store maintains per entity.  Emits each user's current
    buffer as (user_id, pos, vm) rows, pos 0 = most recent; events
    arrive ordered by (ts, event_id) within each micro-batch so the
    buffer is deterministic under the replay's chunking.

    Recency is the GLOBAL (us, event_id) total order, not arrival
    order: the buffer keeps each event's position key in state and
    re-sorts on merge, so the converged buffer is identical however
    the replay chunks the stream (chunks are hash-partitioned, NOT
    time-ordered) — late data simply displaces its juniors.

    Transport note: ListStateGet iteration and ListStatePut are the
    list-state protobuf message family — exercised end to end here.
    Input needs columns (user_id, us, event_id, vm); vm integer
    micro-units keeps emissions hash-comparable."""

    def make():
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class RecentValuesProcessor(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._recent = handle.getListState(
                    "recent", "us bigint, event_id bigint, vm bigint"
                )
                # second, independent state variable: monotone per-user
                # event counter — lets a reader pick each user's LATEST
                # emission (update-mode sinks append all of them)
                self._seen = handle.getValueState("seen", "n bigint")

            def handleInputRows(self, key, rows, timerValues):
                import pandas as pd

                buf = (
                    [(int(u), int(e), int(v)) for u, e, v in self._recent.get()]
                    if self._recent.exists()
                    else []
                )
                seen = int(self._seen.get()[0]) if self._seen.exists() else 0
                for pdf in rows:
                    seen += len(pdf)
                    vals = pdf[["us", "event_id", "vm"]].fillna(0).astype("int64")
                    buf.extend(map(tuple, vals.itertuples(index=False)))
                buf.sort(key=lambda t: (-t[0], -t[1]))  # newest first
                buf = buf[:k]
                self._recent.put(buf)
                self._seen.update((seen,))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]] * len(buf),
                        "pos": list(range(len(buf))),
                        "vm": [v for _, _, v in buf],
                        "seen": [seen] * len(buf),
                    }
                )

            def close(self) -> None:
                pass

        return RecentValuesProcessor

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make()(),
        outputStructType="user_id bigint, pos int, vm bigint, seen bigint",
        outputMode="Update",
        timeMode="None",
    )


def session_finalizer_tws(stream: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Event-time-TIMER sessionization (state-v2): per user, an open
    session extends while events arrive within ``gap_s``; an event-time
    timer registered at ``last_event + gap`` finalizes the session when
    the WATERMARK passes it — emitting (user_id, start_us, end_us, n)
    exactly once per closed session, in append mode.  This is the idle
    finalization pattern windowed aggregation cannot express (emission
    on QUIET, not on data) and the operator that completes this repo's
    state-v2 surface: RegisterTimer/DeleteTimer/ListTimers and the
    handleExpiredTimer callback all run end to end through the
    state-server transport.

    Semantics: gaps detected WITHIN arriving data close sessions
    immediately (handleInputRows emits them, no timer involved); only
    the trailing open session per user waits on its timer.  Input
    needs (user_id, ts, event_id) with a watermark on ``ts``; feed a
    TIME-ORDERED replay (``replay_events_time_ordered``) — with a
    0-second watermark delay, a hash-partitioned replay would race the
    watermark past later chunks and drop them as late."""

    def make():
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        gap_us = gap_s * 1_000_000

        class SessionFinalizer(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._handle = handle
                self._open = handle.getValueState(
                    "open", "start_us bigint, last_us bigint, n bigint"
                )

            def handleInputRows(self, key, rows, timerValues):
                import pandas as pd

                evs = []
                for pdf in rows:
                    vals = pdf[["us", "event_id"]].astype("int64")
                    evs.extend(map(tuple, vals.itertuples(index=False)))
                evs.sort()
                cur = (
                    tuple(map(int, self._open.get()))
                    if self._open.exists()
                    else None
                )
                closed = []
                for us, _eid in evs:
                    if cur is None:
                        cur = (us, us, 1)
                    elif us - cur[1] <= gap_us:
                        cur = (cur[0], max(cur[1], us), cur[2] + 1)
                    else:
                        closed.append(cur)
                        cur = (us, us, 1)
                # retire any previously-registered timer, then arm the
                # trailing session's idle timer (ms, timer clock unit)
                for t in list(self._handle.listTimers()):
                    self._handle.deleteTimer(t)
                self._open.update(cur)
                self._handle.registerTimer((cur[1] + gap_us) // 1000)
                if closed:
                    yield pd.DataFrame(
                        {
                            "user_id": [key[0]] * len(closed),
                            "start_us": [c[0] for c in closed],
                            "end_us": [c[1] for c in closed],
                            "n": [c[2] for c in closed],
                        }
                    )

            def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
                import pandas as pd

                if self._open.exists():
                    start, last, n = map(int, self._open.get())
                    # the timer that fired is the trailing session's
                    # idle deadline; the watermark has passed it, so no
                    # earlier event can still arrive — finalize
                    if expiredTimerInfo.getExpiryTimeInMs() >= (
                        (last + gap_us) // 1000
                    ):
                        self._open.clear()
                        yield pd.DataFrame(
                            {
                                "user_id": [key[0]],
                                "start_us": [start],
                                "end_us": [last],
                                "n": [n],
                            }
                        )

            def close(self) -> None:
                pass

        return SessionFinalizer

    return (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=make()(),
            outputStructType=(
                "user_id bigint, start_us bigint, end_us bigint, n bigint"
            ),
            outputMode="Append",
            timeMode="EventTime",
        )
    )


def _make_micro_totals_processor():
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class MicroTotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "cnt bigint, sum_micro bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            cnt, total = self._totals.get() if self._totals.exists() else (0, 0)
            for pdf in rows:
                cnt += len(pdf)
                # null vm -> 0 (oracle's sum() skips nulls, count(*)
                # doesn't); sum in int64 so exactness never rests on
                # float partial sums
                total += int(pdf["vm"].fillna(0).astype("int64").sum())
            self._totals.update((cnt, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "cnt": [cnt], "sum_micro": [total]}
            )

        def close(self) -> None:
            pass

    return MicroTotalsProcessor


def _make_running_totals_processor():
    """Build the state-v2 processor class. Module-level so the update
    logic is unit-testable against a fake handle in-container (where the
    protobuf transport needed to RUN a TWS query is unavailable) — the
    class itself only needs ``pyspark.sql.streaming.stateful_processor``,
    which imports fine without protobuf."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "cnt bigint, sum_value double"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            cnt, total = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                cnt += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((cnt, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "cnt": [cnt], "sum_value": [total]}
            )

        def close(self) -> None:
            pass

    return RunningTotalsProcessor


def __getattr__(name):
    # PEP 562 lazy export: building the class imports
    # pyspark.sql.streaming.stateful_processor, which a pyspark build
    # without state-v2 lacks — that must fail on USE of the TWS
    # surface, not on `import ...streaming` (which pulls this module)
    if name == "RunningTotalsProcessor":
        cls = _make_running_totals_processor()
        globals()[name] = cls
        return cls
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def ttl_user_counts_tws(stream: DataFrame, ttl_ms: int) -> DataFrame:
    """Per-user event counter whose ValueState carries a
    processing-time TTL — the state-v2 expiry knob (per-VARIABLE, not
    per-operator: each state variable ages out independently, the
    feature the q189 docstring advertises).  With a TTL far above the
    run length the operator IS a running total; with a ~1 ms TTL every
    micro-batch finds its predecessor's state expired and counts from
    zero — which makes TTL semantics testable without wall-clock
    assertions: under expiry each batch's rows are counted exactly
    once from fresh state, so SUM(emitted batch counts) == the batch
    total, while under no-expiry MAX(emitted running count) == the
    batch total (tests/test_streaming.py pins both laws).

    Production shape: TTL is how per-entity state (rate limits,
    recency buffers, fraud counters) avoids unbounded growth on
    entities that go quiet — RocksDB evicts lazily at read/maintenance
    time, so quiet keys cost storage only until their TTL sweep.
    Requires timeMode='ProcessingTime' (TTL clocks are batch
    processing timestamps).  Emits (user_id, cnt, batch_rows) per
    (user, micro-batch)."""

    def make():
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class TtlCountProcessor(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._cnt = handle.getValueState(
                    "cnt", "n bigint", ttlDurationMs=ttl_ms
                )

            def handleInputRows(self, key, rows, timerValues):
                import pandas as pd

                n = int(self._cnt.get()[0]) if self._cnt.exists() else 0
                batch = 0
                for pdf in rows:
                    batch += len(pdf)
                n += batch
                self._cnt.update((n,))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "cnt": [n],
                        "batch_rows": [batch],
                    }
                )

            def close(self) -> None:
                pass

        return TtlCountProcessor

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make()(),
        outputStructType="user_id bigint, cnt bigint, batch_rows bigint",
        outputMode="Update",
        timeMode="ProcessingTime",
    )


def bootstrapped_user_totals_tws(stream: DataFrame, init_grouped) -> DataFrame:
    """Per-user running totals whose state is BOOTSTRAPPED from a
    batch snapshot (``transformWithStateInPandas(initialState=...)``):
    before the first micro-batch, ``handleInitialState`` seeds each
    key's ValueState from the snapshot row, and subsequent batches
    increment it — the state-migration / backfill pattern (cut a new
    streaming job over from a batch table without replaying history).

    Input needs columns (user_id, vm); ``init_grouped`` is
    ``snapshot_df.groupBy("user_id")`` with columns (user_id, cnt,
    sum_micro).  Emits (user_id, cnt, sum_micro) per updated key per
    micro-batch; update-mode sinks see only keys that received
    increments (snapshot-only keys keep their state server-side but
    never emit — the reader's contract, q242)."""

    def make():
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class BootstrappedTotalsProcessor(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._tot = handle.getValueState(
                    "tot", "cnt bigint, sum_micro bigint"
                )

            def handleInitialState(self, key, initialState, timerValues):
                row = initialState.iloc[0]
                self._tot.update((int(row["cnt"]), int(row["sum_micro"])))

            def handleInputRows(self, key, rows, timerValues):
                import pandas as pd

                cnt, sm = (
                    (int(self._tot.get()[0]), int(self._tot.get()[1]))
                    if self._tot.exists()
                    else (0, 0)
                )
                for pdf in rows:
                    cnt += len(pdf)
                    sm += int(pdf["vm"].fillna(0).astype("int64").sum())
                self._tot.update((cnt, sm))
                yield pd.DataFrame(
                    {"user_id": [key[0]], "cnt": [cnt], "sum_micro": [sm]}
                )

            def close(self) -> None:
                pass

        return BootstrappedTotalsProcessor

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make()(),
        outputStructType="user_id bigint, cnt bigint, sum_micro bigint",
        outputMode="Update",
        timeMode="None",
        initialState=init_grouped,
    )
