#!/usr/bin/env python
"""Synthesize an sf1 directory (~10x sf0.1) for the full-bench scale
rehearsal, preserving referential integrity:

- dims ``region``/``nation`` stay fixed (real deployments don't scale them);
- fact/dim keys offset per copy by (base max key + 1) so every foreign key
  still resolves inside its copy (lineitem -> orders/part/supplier,
  orders -> customer, customer/supplier -> nation);
- ``documents`` get a per-copy text suffix so dedup/LSH see near- but not
  exact-duplicates across copies; ``embeddings`` get a tiny per-copy
  perturbation for the same reason;
- ``events`` keep their time range (the gap-fill spine stays constant
  while event volume grows — the realistic shape).

Run: python tools/make_sf1.py [SCALE] [OUT_DIR]   (defaults 10, .scratch/sf1)
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import pyspark.sql.functions as F  # noqa: E402

from etl_jetro_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"


def main() -> None:
    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else str(REPO / ".scratch" / "sf1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="make-sf1")

    def read(t):
        return spark.read.parquet(f"{BASE}/{t}.parquet")

    def maxkey(t, c):
        return read(t).agg(F.max(c)).collect()[0][0] + 1

    O = maxkey("orders", "o_orderkey")
    C = maxkey("customer", "c_custkey")
    S = maxkey("supplier", "s_suppkey")
    P = maxkey("part", "p_partkey")

    # key columns offset per copy; everything else rides along unchanged
    offsets = {
        "customer": {"c_custkey": C},
        "supplier": {"s_suppkey": S},
        "part": {"p_partkey": P},
        "orders": {"o_orderkey": O, "o_custkey": C},
        "lineitem": {"l_orderkey": O, "l_partkey": P, "l_suppkey": S},
        "events": {"event_id": 10_000_000, "user_id": 1000},
        "documents": {"doc_id": 1_000_000},
        "embeddings": {"vec_id": 1_000_000},
    }

    for t in ("region", "nation"):
        shutil.copy(f"{BASE}/{t}.parquet", f"{out_dir}/{t}.parquet")
        print(f"{t}: copied (fixed dim)")

    for t, offs in offsets.items():
        base = read(t)
        copies = []
        for i in range(scale):
            cols = []
            for c in base.columns:
                if c in offs:
                    cols.append((F.col(c) + F.lit(i * offs[c])).alias(c))
                elif t == "documents" and c == "text" and i > 0:
                    cols.append(
                        F.concat(F.col(c), F.lit(f" copyvariant{i}")).alias(c)
                    )
                elif t == "embeddings" and c == "embedding" and i > 0:
                    # NB: a 2-arg lambda would be called as (element, index)
                    # by F.transform — a default-arg eps capture silently
                    # binds the INDEX instead. Factory closure keeps it 1-arg.
                    def _shift(e):
                        return lambda x: x + F.lit(e)

                    cols.append(
                        F.transform(F.col(c), _shift(float(i) * 1e-4)).alias(c)
                    )
                else:
                    cols.append(F.col(c))
            copies.append(base.select(*cols))
        df = copies[0]
        for c in copies[1:]:
            df = df.unionByName(c)
        df.coalesce(max(4, scale)).write.mode("overwrite").parquet(
            f"{out_dir}/_tmp_{t}"
        )
        # single-file layout to match the driver's testdata shape
        part_dir = f"{out_dir}/_tmp_{t}"
        files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        if len(files) == 1:
            shutil.move(
                os.path.join(part_dir, files[0]), f"{out_dir}/{t}.parquet"
            )
            shutil.rmtree(part_dir)
        else:
            # keep the directory form; Spark + DuckDB both read it
            final = f"{out_dir}/{t}.parquet"
            if os.path.isdir(final):
                shutil.rmtree(final)
            shutil.move(part_dir, final)
        n = spark.read.parquet(f"{out_dir}/{t}.parquet").count()
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main()
