"""PDF-drop watcher as Structured Streaming (SURVEY §2.1 S7, §2.10 T1–T7).

The reference polls SMB folders for ``*-<PO>.pdf``, debounces on a
size-stability settle window, moves matched files, and reports per-PO
status with a timeout (sheet_bot/utils.py:77-406, duplicated ×6). Here:

- the *source* is a streaming file scan over the watch folders (metadata
  only — the content column is never required, so the binary source prunes
  it and the scan is listing-speed);
- expected-POs vs arrivals is a **stream-static join** on the extracted PO
  key (J5) — semi for matched, the missing set falls out of the state
  timeout (anti);
- the waiting→done state machine is ``applyInPandasWithState`` keyed by PO:
  a file is *done* once its size is unchanged across polls (settle), a PO
  *times out* into ERROR via ProcessingTimeTimeout;
- the file move + status write-back are ``foreachBatch`` side effects,
  idempotent per (po, filename) so checkpoint replays are safe (T7).

At scale, partitioning is by PO key — thousands of vendors stream in
parallel with per-key state, which is exactly Spark's state-store shape.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from etl_jetro_spark.plans.hints import bcast_small
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ``<anything>-<PO>.pdf`` — case-insensitive (reference utils.py:151-156)
PO_FROM_NAME = r"(?i)-(\d+)\.pdf$"

EVENT_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("size", LongType()),
        StructField("mtime_epoch", DoubleType()),
    ]
)

STATUS_SCHEMA = StructType(
    [
        StructField("po", StringType()),
        StructField("status", StringType()),        # waiting | done | error
        StructField("found_path", StringType()),
        StructField("first_seen", DoubleType()),
        StructField("finished_at", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("last_size", LongType()),
        StructField("last_path", StringType()),
        StructField("first_seen", DoubleType()),
        StructField("stable_count", LongType()),
    ]
)


def extract_po(path_col) -> F.Column:
    return F.regexp_extract(F.element_at(F.split(path_col, "/"), -1), PO_FROM_NAME, 1)


def file_events_stream(spark: SparkSession, watch_dirs: list[str]) -> DataFrame:
    """Streaming metadata scan of the watch folders (*.pdf, any case).

    Selecting only path/length/modificationTime lets the binaryFile source
    skip reading file bytes entirely.
    """
    streams = []
    for d in watch_dirs:
        s = (
            spark.readStream.format("binaryFile")
            .schema(
                "path string, modificationTime timestamp, length long, content binary"
            )
            .option("pathGlobFilter", "*.[pP][dD][fF]")
            .load(d)
            .select(
                F.col("path"),
                F.col("length").alias("size"),
                F.unix_timestamp("modificationTime").cast("double").alias("mtime_epoch"),
            )
        )
        streams.append(s)
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s)
    return out


def match_expected(events: DataFrame, expected_pos: DataFrame) -> DataFrame:
    """Stream-static join: keep only arrivals whose filename PO is in the
    expected set (J5 semi side). ``expected_pos`` needs a ``po`` column."""
    tagged = events.withColumn("po", extract_po(F.col("path"))).filter(
        F.col("po") != ""
    )
    return tagged.join(bcast_small(expected_pos.select("po").distinct()), "po")  # bound: config-sized expected-PO parameter frame


def _track_po(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-PO state machine.

    Spark's file source emits a file exactly once, *after* it is complete —
    the source abstraction already provides the reference's settle
    guarantee (in-progress copies are below it; see snapshot.py for the
    poll-level settle semantics). Transitions:

    - heartbeat row (size < 0, seeded once per expected PO by
      ``run_po_watch``) with no state → register *waiting*, arm the
      ProcessingTimeTimeout (T4);
    - real arrival → emit *done*; the state is kept as a dedup marker but
      NO timeout is armed (a done PO must never later fire a spurious
      error — the timeout resets on every invocation, so simply not
      re-arming it clears any pending one);
    - timeout fires only for still-waiting POs → emit *error* (T4);
    - repeat arrivals of a done PO → emit nothing (T5 duplicate drop).
    """
    (po,) = key
    if state.hasTimedOut:
        prev = state.get if state.exists else (-1, "", None, 0)
        state.remove()
        if prev[0] is not None and int(prev[0]) >= 0:
            return  # defensive: done PO — never a spurious error
        yield pd.DataFrame(
            [[po, "error", None, prev[2], None]], columns=STATUS_SCHEMA.names
        )
        return

    rows = pd.concat(list(pdfs), ignore_index=True)
    real = rows[rows["size"] >= 0].sort_values("mtime_epoch")
    if state.exists and int(state.get[0]) >= 0:
        return  # duplicate drop of an already-done PO: emit nothing (T5)
    if len(real) == 0:
        # heartbeat only: register/keep waiting and (re-)arm the timeout
        first_seen = (
            float(state.get[2]) if state.exists
            else float(rows["mtime_epoch"].min())
        )
        state.update((-1, "", first_seen, 0))
        state.setTimeoutDuration(int(_track_po.timeout_ms))
        return
    first = real.iloc[0]
    state.update((int(first["size"]), str(first["path"]), float(first["mtime_epoch"]), 1))
    yield pd.DataFrame(
        [[po, "done", str(first["path"]), float(first["mtime_epoch"]), float(first["mtime_epoch"])]],
        columns=STATUS_SCHEMA.names,
    )


_track_po.timeout_ms = 300_000  # reference MAX_WAIT_SECONDS_PER_VENDOR


def po_status_stream(
    matched: DataFrame, timeout_seconds: int = 300
) -> DataFrame:
    """waiting/done/error status transitions per PO (T2/T4/T5)."""
    _track_po.timeout_ms = timeout_seconds * 1000
    return matched.groupBy("po").applyInPandasWithState(
        _track_po,
        outputStructType=STATUS_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def _stage_and_commit(src: str, dest: str, tmp: str) -> None:
    """Deliver ``src`` to ``dest`` so the final name only ever appears
    FULLY WRITTEN. Same-filesystem: plain atomic ``os.rename``.
    Cross-filesystem (EXDEV): copy to ``tmp`` (a temp name inside the
    dest dir, hence on dest's filesystem), atomically ``os.replace`` it
    into place, then unlink the source. A hard crash mid-copy — the
    window the old copy-then-unlink ``shutil.move`` left open (ADVICE
    r8) — strands only the ``tmp`` staging file, never a truncated
    ``dest``, so a checkpoint-replay pre-check can trust dest's
    existence as proof of complete delivery."""
    import errno
    import shutil

    try:
        os.rename(src, dest)
        return
    except OSError as e:
        if e.errno != errno.EXDEV:
            raise
    shutil.copy2(src, tmp)
    os.replace(tmp, dest)
    os.unlink(src)


def move_file_idempotent(
    src: str, dest_dir: str, retries: int = 5, retry_sleep: float = 0.0
) -> str | None:
    """T5/T6/T7: move with pre-check (already-delivered wins), bounded
    retries, and skip-if-same-name — safe under foreachBatch replay.

    Reference parity: ``open_retry=5`` / ``open_retry_sleep`` move loop
    (sheet_bot/utils.py:273-285). Delivery goes through
    :func:`_stage_and_commit`, so ``dest`` appears atomically: the
    pre-check below never sees a partial file, even after a hard crash
    (only a ``*.partial`` staging file can be stranded, and each retry
    sweeps it). Returns the dest path, or None when all retries are
    exhausted (the caller reports ERROR; the reference leaves the PO in
    ``remaining`` and its status row never flips to done)."""
    import time as _t

    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, os.path.basename(src))
    tmp = dest + ".partial"
    if os.path.exists(dest):
        return dest  # already delivered (replay or duplicate drop)
    if os.path.exists(tmp):
        try:
            os.remove(tmp)  # stale staging file from a prior hard crash
        except OSError:
            pass
    for attempt in range(retries):
        try:
            _stage_and_commit(src, dest, tmp)
            return dest
        except OSError:
            if os.path.exists(tmp):
                try:
                    os.remove(tmp)  # half-staged copy: source not consumed
                except OSError:
                    pass
            if attempt == retries - 1:
                return None
            _t.sleep(retry_sleep)
    return None


def run_po_watch(
    spark: SparkSession,
    watch_dirs: list[str],
    expected_pos: DataFrame,
    dest_dir: str,
    checkpoint_dir: str,
    timeout_seconds: int = 300,
    poll_seconds: int = 60,
    available_now: bool = False,
):
    """Wire source → join → state machine → mover sink. Returns the
    StreamingQuery; completed files are moved to ``dest_dir`` and status
    rows appended to the in-memory ``po_status`` table.

    In continuous mode every expected PO is seeded with a one-shot
    heartbeat row (a rate-source tick cross-joined with the expected set):
    it registers *waiting* state for never-arrived POs, and the ticking
    rate source keeps a micro-batch executing every trigger even with no
    file arrivals. The timeout itself (T4) is enforced at the sink — the
    reference's timeout is likewise a driver-side poll deadline
    (sheet_bot/utils.py:77-406 ``max_wait_seconds``), and the sink sees
    every batch: any expected PO not *done* once the deadline passes is
    reported ERROR exactly once. (The per-key ProcessingTimeTimeout in
    ``_track_po`` stays as a second, state-level guard, but the sink
    deadline is the one that fires deterministically under local triggers.)
    Under availableNow the heartbeat is skipped: the stream drains once,
    and the missing set is the caller's expected POs minus the ``done``
    rows of ``po_status`` (the set difference ``orchestrator.finalize``
    computes)."""
    import time as _time

    events = file_events_stream(spark, watch_dirs)
    matched = match_expected(events, expected_pos).select(
        "po", "path", "size", "mtime_epoch"
    )
    if not available_now:
        heartbeat = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 1)
            .load()
            .filter(F.col("value") == 0)  # one tick only: seed, don't re-arm
            .crossJoin(bcast_small(expected_pos.select("po").distinct()))  # bound: config-sized expected-PO parameter frame
            .select(
                "po",
                F.lit("").alias("path"),
                F.lit(-1).cast("long").alias("size"),
                F.unix_timestamp("timestamp").cast("double").alias("mtime_epoch"),
            )
        )
        matched = matched.unionByName(heartbeat)
    status = po_status_stream(matched, timeout_seconds)

    expected_set = {r["po"] for r in expected_pos.select("po").distinct().collect()}
    progress = {
        "deadline": _time.time() + timeout_seconds,
        "done": set(),
        "errored": set(),
    }

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()
        keep = []
        for row in rows:
            if row["status"] == "done":
                moved = move_file_idempotent(
                    row["found_path"].removeprefix("file:"), dest_dir
                )
                if moved is None:
                    # retries exhausted (reference: the PO never goes
                    # done, sheet_bot/utils.py:283-285) — report ERROR
                    # exactly once, keeping found_path for diagnosis
                    if row["po"] not in progress["errored"]:
                        progress["errored"].add(row["po"])
                        d = row.asDict()
                        d["status"] = "error"
                        _append_memory_rows([d])
                    continue
                progress["done"].add(row["po"])
                keep.append(row)
            elif row["status"] == "error":
                # exactly-once ERROR: the state-level timeout and the sink
                # deadline can both fire — first reporter wins
                if row["po"] not in progress["errored"]:
                    progress["errored"].add(row["po"])
                    keep.append(row)
            else:
                keep.append(row)
        _append_memory_rows(r.asDict() for r in keep)
        if not available_now and _time.time() >= progress["deadline"]:
            now = _time.time()
            for po in sorted(
                expected_set - progress["done"] - progress["errored"]
            ):
                progress["errored"].add(po)
                _append_memory_rows(
                    [
                        {
                            "po": po,
                            "status": "error",
                            "found_path": None,
                            "first_seen": None,
                            "finished_at": now,
                        }
                    ]
                )

    writer = (
        status.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{poll_seconds} seconds")
    return writer.start()


_MEMORY_ROWS: list[dict[str, Any]] = []


def _append_memory_rows(rows) -> None:
    _MEMORY_ROWS.extend(rows)


def memory_status_rows() -> list[dict[str, Any]]:
    return list(_MEMORY_ROWS)
