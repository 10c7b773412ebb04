"""The benchmark workloads: inputs, one timed op, and its output check.

Each workload drives the program only through its public entry points
(``pipelines.runner.run_*``, ``plans.queries.QUERIES``,
``streaming.orchestrator.orchestrate_tick``, ``sinks.pdf.combine_pdfs``,
``sinks.notify.build_send_mail_request``). An op of kind ``kinds[i % n]``
runs for op id ``i``; the harness in ``run.py`` times ``op`` and calls
``check`` and ``reset`` outside the timed region.
"""

from __future__ import annotations

import base64
import os
import re
import shutil
from datetime import date

import gen

RUN_DATE = date(2026, 1, 6)
LEAVINS_EDD = date(2026, 1, 9)


def _lines(path: str) -> int:
    with open(path, "rb") as fh:
        data = fh.read()
    return data.count(b"\n") + 1 if data else 0


def _parquet_rows_and_sum(path: str, col: str) -> tuple[int, int]:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[col])
    return t.num_rows, int(pc.sum(t[col]).as_py() or 0)


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str, tiny: bool = False) -> None:
        self.seed, self.work, self.tiny = seed, work, tiny
        self.spark = None

    def generate(self) -> dict:
        """Write the inputs; returns the input sizes for the report."""
        raise NotImplementedError

    def bind(self, spark) -> None:
        self.spark = spark

    def op(self, i: int, tracer):
        raise NotImplementedError

    def check(self, i: int, result) -> bool:
        raise NotImplementedError

    def reset(self, i: int) -> None:
        """Untimed restore of inputs an op consumed."""


# --------------------------------------------------------------------------
# supplier_day: pipelines.runner.run_*
# --------------------------------------------------------------------------

def run_pipeline(spark, kind: str, inputs: dict, out_dir: str) -> dict:
    from etl_jetro_spark.pipelines import runner as R

    src = inputs["in"]
    if kind == "247":
        return R.run_247(spark, src, out_dir, RUN_DATE)
    if kind == "acme":
        return R.run_acme(spark, src, out_dir, RUN_DATE)
    if kind == "leavins":
        return R.run_leavins(spark, src, out_dir, RUN_DATE, LEAVINS_EDD)
    if kind == "southern_cross":
        return R.run_southern_cross(spark, src, out_dir, RUN_DATE)
    if kind == "flips_big":
        return R.run_flips_big(spark, src, out_dir, RUN_DATE)
    if kind == "flips_baby":
        return R.run_flips_baby(spark, src, inputs["po"], inputs["carrier"], out_dir)
    raise ValueError(kind)


def check_pipeline(kind: str, manifest: dict, expect: gen.Expect) -> bool:
    """Canonical rows and quantity total read back from the written
    parquet, plus macro line counts, against the generator's answer."""
    if kind == "flips_baby":
        rows, total = _parquet_rows_and_sum(manifest["araho"], "Value")
    else:
        rows, total = _parquet_rows_and_sum(manifest["order_sheet"]["parquet"], "Distro Size")
    lines = sum(_lines(manifest[k]) for k in ("adpo_x", "dlpm") if k in manifest)
    return (rows, total, lines) == (
        expect.canonical_rows, expect.distro_total, expect.macro_lines,
    )


class SupplierDay(Workload):
    """One op = one run_* call or one PO control tick (:class:`PoTick`):
    the six pipelines and the tick in a fixed rotation."""

    name = "supplier_day"
    kinds = gen.SUPPLIER_PIPELINES + ("po_tick",)

    def __init__(self, seed: int, work: str, tiny: bool = False) -> None:
        super().__init__(seed, work, tiny)
        self.tick = PoTick(seed, os.path.join(work, "po"), tiny)

    def generate(self) -> dict:
        items, stores = (6, 8) if self.tiny else (60, 32)
        self.day = gen.supplier_day(self.seed, os.path.join(self.work, "in"), items, stores)
        return {"items_per_sheet": items, "stores": stores,
                "canonical_rows": {k: v["expect"].canonical_rows for k, v in self.day.items()},
                "po_tick": self.tick.generate()}

    def bind(self, spark) -> None:
        super().bind(spark)
        self.tick.bind(spark)

    def _kind(self, i: int) -> str:
        return self.kinds[i % len(self.kinds)]

    def op(self, i: int, tracer):
        kind = self._kind(i)
        if kind == "po_tick":
            return self.tick.op(i, tracer)
        return run_pipeline(self.spark, kind, self.day[kind], os.path.join(self.work, "out", kind))

    def check(self, i: int, result) -> bool:
        kind = self._kind(i)
        if kind == "po_tick":
            return self.tick.check(i, result)
        return check_pipeline(kind, result, self.day[kind]["expect"])

    def reset(self, i: int) -> None:
        if self._kind(i) == "po_tick":
            self.tick.reset(i)


# --------------------------------------------------------------------------
# query_mix: plans.queries.QUERIES checked against plans.queries.ORACLES
# --------------------------------------------------------------------------

# One query per operator family: scan + aggregate, a four-table join,
# MinHash LSH text dedup, embedding LSH near-dup, window sessionization,
# iterative connected components, count-min-sketch heavy hitters and a
# grouping-sets rollup. The rollup is there for the median: with three slow
# (>1 s) kinds it falls among the fast ones, not in the gap between the two.
QUERY_MIX = (
    "q1_pricing_summary",
    "q4_regional_revenue",
    "q18_minhash_lsh_pairs",
    "q39_embedding_near_dup",
    "q44_sessionization",
    "q60_dedup_components",
    "q111_cms_heavy_hitters",
    "q201_revenue_rollup",
)


def _canon(df) -> list[tuple]:
    """Order- and engine-insensitive rows: columns by name, floats to 6 dp,
    ints and bools as ints, dates as ISO text, NaN as None."""
    import math

    import numpy as np

    def cell(v):
        if isinstance(v, (bool, np.bool_)):
            return int(v)
        if isinstance(v, (int, np.integer)):
            return int(v)
        if isinstance(v, (float, np.floating)):
            return None if math.isnan(v) else round(float(v), 6) + 0.0
        if isinstance(v, (list, tuple, np.ndarray)):
            return tuple(cell(x) for x in v)
        if v is None:
            return None
        if hasattr(v, "isoformat"):
            return v.isoformat()[:10] if str(v).endswith("00:00:00") else v.isoformat()
        if hasattr(v, "__float__") and not isinstance(v, str):  # Decimal
            return round(float(v), 6) + 0.0
        return v

    cols = sorted(df.columns)
    rows = [tuple(cell(v) for v in r) for r in df[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


class QueryMix(Workload):
    """One op = one catalog query, its (small) result collected to the
    driver and compared with the query's DuckDB oracle."""

    name = "query_mix"
    kinds = tuple(q.split("_")[0] for q in QUERY_MIX)

    def generate(self) -> dict:
        """Seeded tables, and every mix query's oracle answer computed
        from them with DuckDB."""
        import duckdb

        from etl_jetro_spark.plans.queries import ORACLES

        self.tables = os.path.join(self.work, "tables")
        rows = gen.tables(self.seed, self.tables, 3000 if self.tiny else 20_000)
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
            for f in os.listdir(self.tables):
                path = os.path.join(self.tables, f)
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            self.want = {}
            for qid in QUERY_MIX:
                df = con.sql(ORACLES[qid]).df()
                self.want[qid] = (sorted(df.columns), _canon(df))
        finally:
            con.close()
        return {"table_rows": rows, "queries": list(QUERY_MIX),
                "result_rows": {q: len(w[1]) for q, w in self.want.items()}}

    def op(self, i: int, tracer):
        from etl_jetro_spark.plans.queries import QUERIES

        qid = QUERY_MIX[i % len(QUERY_MIX)]
        with tracer.span(f"query.{self.kinds[i % len(self.kinds)]}"):
            return qid, QUERIES[qid](self.spark, self.tables).toPandas()

    def check(self, i: int, result) -> bool:
        qid, got = result
        return (sorted(got.columns), _canon(got)) == self.want[qid]


# --------------------------------------------------------------------------
# supplier_day's po_tick op: orchestrate_tick + combine_pdfs +
# build_send_mail_request
# --------------------------------------------------------------------------

_PAGE = re.compile(rb"/Type\s*/Page\b(?!s)")


class PoTick(Workload):
    """One op = one control-loop tick over a pre-seeded watch folder, then
    a merged PDF and a send-mail payload per Sent vendor."""

    def generate(self) -> dict:
        from etl_jetro_spark.sinks.pdf import write_simple_pdf_bytes

        vendors, stores = (6, 3) if self.tiny else (40, 8)
        self.day = gen.po_day(self.seed, self.work, vendors, stores, 0.05, write_simple_pdf_bytes)
        self.dest = os.path.join(self.work, "dest")
        self.vendor_root = os.path.join(self.work, "vendors")
        self.merged = os.path.join(self.work, "merged")
        for d in (self.dest, self.vendor_root, self.merged):
            os.makedirs(d, exist_ok=True)
        n_pos = sum(len(v["pos"]) for v in self.day.vendors.values())
        return {"vendors": len(self.day.vendors), "pos": n_pos,
                "missing_pos": len(self.day.missing_pos)}

    def op(self, i: int, tracer):
        from etl_jetro_spark.sinks import notify, pdf
        from etl_jetro_spark.streaming.orchestrator import orchestrate_tick

        m = orchestrate_tick(
            self.spark, self.day.grid, [self.day.watch_dir], self.dest, deadline_polls=4
        )
        final = {p["range"]: p["values"][0][0] for p in m["final"]}
        mails = {}
        for a1 in sorted(a for a, s in final.items() if s == "Sent"):
            v = self.day.vendors[a1]
            folder = os.path.join(self.vendor_root, a1)
            os.makedirs(folder, exist_ok=True)
            for name in os.listdir(self.dest):
                if name.startswith(v["vendor"] + "-"):
                    os.rename(os.path.join(self.dest, name), os.path.join(folder, name))
            merged = pdf.combine_pdfs(folder, os.path.join(self.merged, a1), RUN_DATE)
            with open(merged, "rb") as fh:
                data = fh.read()
            mails[a1] = (data, notify.build_send_mail_request(
                subject=f"PO {v['vendor']} {RUN_DATE:%m/%d/%y}",
                body_html=f"<p>{len(v['pos'])} purchase orders attached.</p>",
                to=[f"orders-{v['vendor']}@example.com"],
                default_cc=["buyer@example.com"],
                attachments=[(os.path.basename(merged), data)],
            ))
        return m, final, mails

    def check(self, i: int, result) -> bool:
        m, final, mails = result
        d = self.day
        errored = {po for po, s in m["po_status"].items() if s == "error"}
        if errored != d.missing_pos:
            return False
        if {a for a, s in final.items() if s == "ERROR"} != d.error_a1:
            return False
        if {a for a, s in final.items() if s == "Sent"} != d.sent_a1 or set(mails) != d.sent_a1:
            return False
        for a1, (data, payload) in mails.items():
            if len(_PAGE.findall(data)) != sum(d.vendors[a1]["pages"].values()):
                return False
            att = payload["message"]["attachments"]
            if len(att) != 1 or base64.b64decode(att[0]["contentBytes"]) != data:
                return False
        return True

    def reset(self, i: int) -> None:
        """Put every delivered PDF back in the watch folder."""
        folders = [self.dest] + [
            os.path.join(self.vendor_root, a) for a in os.listdir(self.vendor_root)
        ]
        for folder in folders:
            for name in os.listdir(folder):
                os.replace(os.path.join(folder, name), os.path.join(self.day.watch_dir, name))
        shutil.rmtree(self.merged)
        os.makedirs(self.merged)


WORKLOADS = {w.name: w for w in (SupplierDay, QueryMix)}
