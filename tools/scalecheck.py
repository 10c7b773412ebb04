#!/usr/bin/env python
"""Scaling evidence: measure heavy operators at 1x and Nx the sf0.1 input
and report the wall-time ratio. A scalable operator's ratio should track
the data ratio (~linear); a quadratic or skew-bound shape blows past it.

Scaled inputs are synthesized by unioning the base table SCALE times with
disjoint id offsets (events keep their time range — so gap-fill spine
size is constant while event volume grows; documents get per-copy text
suffixes so dedup/LSH see near- but not exact-duplicates across copies).

Run: python tools/scalecheck.py [SCALE]      (default 8)
Writes scratch parquet under the checkout's .scratch/ (gitignored).
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import pyspark.sql.functions as F  # noqa: E402

from etl_jetro_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"
SCRATCH = str(REPO / ".scratch" / "scalecheck")


def scaled_events(spark, scale: int, out: str):
    e = spark.read.parquet(f"{BASE}/events.parquet")
    n = e.count()
    copies = [
        e.select(
            (F.col("event_id") + F.lit(i * n)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * 1000)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(scale)
    ]
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    df.write.mode("overwrite").parquet(out)


def scaled_documents(spark, scale: int, out: str):
    d = spark.read.parquet(f"{BASE}/documents.parquet")
    n = d.count()
    copies = [
        d.select(
            (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" copyvariant{i}")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(scale)
    ]
    df = copies[0]
    for c in copies[1:]:
        df = df.unionByName(c)
    df.write.mode("overwrite").parquet(out)


def bench_ops(spark, events_path: str, docs_path: str) -> dict[str, float]:
    from etl_jetro_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    e = spark.read.parquet(events_path).withColumn(
        "ts",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " timestamp_ntz'1970-01-01 00:00:00', ts) * 1000"
        ),
    )
    d = spark.read.parquet(docs_path)
    out: dict[str, float] = {}

    def run(name, df):
        # accept a thunk for operators that execute eagerly at build time
        # (iterative driver loops) — otherwise their work escapes the timer
        t0 = time.perf_counter()
        if callable(df):
            df = df()
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 2)

    run("exact_dedup", exact_dedup(d, "doc_id", "text"))
    run(
        "minhash_lsh",
        minhash_lsh_candidates(d, "doc_id", "text", num_hashes=16, bands=4),
    )
    run(
        "ngram_jaccard_dfcap",
        ngram_jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=50
        ),
    )
    run(
        "sessionize",
        _sessionize(e),
    )
    run(
        "hourly_agg",
        e.groupBy(
            ((F.col("ts") / 1_000_000_000).cast("long") / 3600).cast("long"),
            "event_type",
        ).agg(F.count(F.lit(1)), F.sum("value")),
    )

    # round-3 heavy operators
    from etl_jetro_spark.operators.aggregate import exact_group_percentiles
    from etl_jetro_spark.operators.dedup import containment_pairs
    from etl_jetro_spark.operators.graph import connected_components
    from etl_jetro_spark.operators.sketch import cms_build

    run(
        "exact_percentiles",
        exact_group_percentiles(
            e, ["event_type"], "value", {"p50": 0.5, "p95": 0.95}
        ),
    )
    run(
        "containment_dfcap",
        containment_pairs(
            d, "doc_id", "text", n=3, threshold=0.8, max_doc_freq=50
        ),
    )
    toks = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    run("cms_build", cms_build(toks, "token", depth=4, width=1024))
    # star CC on a chain within each doc-id block: rounds are O(log^2 n),
    # data per round is the edge set — wall time should track data ratio
    edges = d.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    run(
        "star_cc_chain",
        lambda: connected_components(edges, max_iter=60, method="star"),
    )

    # round-3 second wave
    from etl_jetro_spark.operators.dedup import (
        line_dedup,
        prefix_filter_jaccard_pairs,
        winnow_fingerprints,
    )
    from etl_jetro_spark.operators.sketch import kmv_pairwise_jaccard
    from etl_jetro_spark.operators.dedup import shingle_rows

    run("winnow_fps", winnow_fingerprints(d, "doc_id", "text", k=8, w=4))
    run("line_dedup", line_dedup(d, "doc_id", "text", line_words=10))
    run(
        "prefix_jaccard",
        prefix_filter_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5),
    )
    sh = shingle_rows(d, "source", "text", 3, distinct=False).select(
        F.col("_id").alias("source"), F.col("_sh").alias("sh")
    )
    run("kmv_pairwise", kmv_pairwise_jaccard(sh, "source", "sh", k=32))
    return out


def _sessionize(e):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    flag = (gap.isNull() | (gap > 1_800_000_000_000)).cast("long")
    sid = F.sum(flag).over(
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        e.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def main() -> None:
    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    spark = get_spark(app_name="scalecheck")
    shutil.rmtree(SCRATCH, ignore_errors=True)

    scaled_events(spark, scale, f"{SCRATCH}/events_big.parquet")
    scaled_documents(spark, scale, f"{SCRATCH}/docs_big.parquet")
    # warm codegen/JIT on the small pass
    base = bench_ops(
        spark, f"{BASE}/events.parquet", f"{BASE}/documents.parquet"
    )
    base = bench_ops(
        spark, f"{BASE}/events.parquet", f"{BASE}/documents.parquet"
    )
    big = bench_ops(
        spark, f"{SCRATCH}/events_big.parquet", f"{SCRATCH}/docs_big.parquet"
    )
    report = {
        "scale": scale,
        "ops": {
            k: {
                "t_1x": base[k],
                f"t_{scale}x": big[k],
                "ratio": round(big[k] / base[k], 2) if base[k] else None,
            }
            for k in base
        },
    }
    print(json.dumps(report, indent=2))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
