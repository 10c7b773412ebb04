"""In-memory span tracing and Spark counters, recorded from benchmark code.

The program is never edited: :meth:`Tracer.wrap` swaps a module attribute
(``runner.write_canonical``, ``batch.build_allocation`` ...) for a wrapper
that records a span around each call and restores the original on
:meth:`Tracer.restore`. Spans are kept in memory until the run ends.

Spans nest on one thread, so a span's self time is its duration minus the
durations of its direct children.

Spark work is attributed to an op through a job group: the op runs under
group ``op-<id>`` and afterwards :func:`spark_op_counters` reads that
group's jobs and stages from the driver's status store.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = False

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: float) -> None:
        self.counts[name] += n

    def wrap(self, module: object, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` by a spanned wrapper. ``on_result(tracer,
        result, args)`` may add counters after each traced call."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None and self.enabled:
                on_result(self, out, args)
            return out

        wrapper.__wrapped__ = orig
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Total self seconds per span name."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s, c in zip(self.spans, child_time):
            out[s.name] += (s.end - s.start) - c
        return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        if not f.startswith((".", "_"))
    )


def _count_canonical(t: Tracer, manifest, args) -> None:
    t.count("sinks.canonical_rows", manifest["rows"])
    t.count("sinks.parquet_bytes", _dir_bytes(manifest["parquet"]))
    t.count("sinks.xlsx_bytes", os.path.getsize(manifest["xlsx"]))


def _count_macro(t: Tracer, result, args) -> None:
    _name, text = result
    t.count("sinks.macro_lines", text.count("\n") + 1 if text else 0)


def _count_cells(t: Tracer, result, args) -> None:
    wide = args[1]
    t.count("pipelines.cells_in", wide.shape[0] * wide.shape[1])


def _count_poll(t: Tracer, result, args) -> None:
    t.count("snapshot.polls", 1)


def _count_move(t: Tracer, dest, args) -> None:
    if dest is not None:
        t.count("snapshot.files_moved", 1)


def _count_pdf(t: Tracer, path, args) -> None:
    t.count("sinks.pdf_bytes", os.path.getsize(path))


def install_layer_spans(t: Tracer) -> None:
    """Wrap the public functions each layer exposes to the entry points."""
    from etl_jetro_spark.pipelines import batch, runner
    from etl_jetro_spark.sinks import notify, pdf
    from etl_jetro_spark.sources import csv_po, json_dim, sheet
    from etl_jetro_spark.streaming import orchestrator, snapshot

    for attr in ("read_allocation_pricesheet", "read_single_with_token"):
        t.wrap(runner, attr, "sources.read")
    t.wrap(csv_po, "read_latest_po_csv", "sources.read")
    t.wrap(json_dim, "read_carrier_json", "sources.read")
    for attr in dir(batch):
        if attr.startswith("clean_") or attr in ("split_big_and_baby", "build_flips_store_block"):
            t.wrap(batch, attr, "normalize.clean")
        elif attr.startswith("build_") and attr != "build_baby_audit_manifest":
            t.wrap(batch, attr, "pipelines.build", _count_cells)
    t.wrap(runner, "write_canonical", "sinks.canonical", _count_canonical)
    for attr in ("render_adpo_x", "render_dlpm"):
        t.wrap(runner, attr, "sinks.macro", _count_macro)

    t.wrap(sheet, "parse_sections", "sheet.parse")
    t.wrap(snapshot, "poll_step", "snapshot.poll", _count_poll)
    t.wrap(snapshot, "list_dir", "snapshot.poll")
    t.wrap(snapshot, "precheck_dest", "snapshot.poll")
    t.wrap(snapshot, "move_file_idempotent", "snapshot.move", _count_move)
    t.wrap(orchestrator, "finalize", "orchestrator.finalize")
    t.wrap(notify, "status_update_payload", "orchestrator.finalize")
    t.wrap(pdf, "combine_pdfs", "sinks.pdf_merge", _count_pdf)
    t.wrap(notify, "build_send_mail_request", "sinks.notify")


def _union_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    total, cur_end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def spark_op_counters(spark, group: str, op_start_ms: int, op_end_ms: int) -> dict[str, float]:
    """Jobs, non-skipped stages, task busy time, shuffle-write and spill
    bytes of one op's job group, plus the op time during which no job of
    the group was running (``driver_only_s``)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(
        ("jobs_per_op", "stages_per_op", "task_busy_s", "shuffle_write_bytes", "spill_bytes"),
        0.0,
    )
    intervals = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out["jobs_per_op"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined():
            end = done.get().getTime() if done.isDefined() else op_end_ms
            intervals.append((sub.get().getTime(), end))
        stage_ids = job.stageIds()
        for k in range(stage_ids.size()):
            stage = store.lastStageAttempt(stage_ids.apply(k))
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages_per_op"] += 1
            out["task_busy_s"] += stage.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    busy_ms = _union_ms(intervals, op_start_ms, op_end_ms)
    out["driver_only_s"] = max(0, op_end_ms - op_start_ms - busy_ms) / 1000.0
    return {f"spark.{k}": v for k, v in out.items()}
