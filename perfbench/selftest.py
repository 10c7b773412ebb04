"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

Run from the repository root. Checks that every workload runs, untraced
and traced, with every op passing its output check; that each run prints
exactly the metrics ``BENCHMARK.json`` names, with their units; and that a
deliberately corrupted output (one canonical row dropped after the sink
wrote it) is counted as a failed op. Exits 1 on the first broken
expectation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def _expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def _units(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def _drop_one_canonical_row() -> None:
    """Make ``run_*`` write a canonical parquet that is one row short."""
    import pyarrow.parquet as pq

    from etl_jetro_spark.pipelines import runner

    orig = runner.write_canonical

    def corrupt(df, out_dir, name="order_sheet"):
        manifest = orig(df, out_dir, name=name)
        table = pq.read_table(manifest["parquet"])
        shutil.rmtree(manifest["parquet"])
        os.makedirs(manifest["parquet"])
        pq.write_table(table.slice(1), os.path.join(manifest["parquet"], "part-0.parquet"))
        return manifest

    runner.write_canonical = corrupt


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    work = os.path.join(os.getcwd(), ".bench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    try:
        bench._environment(work)
        for w in spec["workloads"]:
            name = w["name"]
            for trace, want in ((False, end_to_end), (True, per_layer)):
                r = bench.run(name, 1, 0, trace, os.path.join(work, f"{name}-{trace}"), tiny=True)
                label = f"{name} trace={int(trace)}"
                _expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                        f"{label}: {r['attempted']} ops, all outputs correct")
                _expect(_units(r) == want, f"{label}: every metric printed with its unit")

        _drop_one_canonical_row()
        r = bench.run("supplier_day", 1, 0, False, os.path.join(work, "corrupt"), tiny=True)
        ok_frac = r["metrics"]["ok_frac"]["value"]
        _expect(r["failed"] > 0 and not r["correct"] and ok_frac < 1.0,
                f"dropped canonical row counted: {r['failed']}/{r['attempted']} ops failed")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
