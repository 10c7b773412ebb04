"""Portable hashing primitives for dedup / fingerprinting / LSH.

Design constraint: every hash here must be computable bit-for-bit in BOTH
Spark SQL and DuckDB (the correctness oracle). ``md5`` of a UTF-8 string is
the one hash both engines share, so:

- a *minhash permutation* is ``min(md5(seed || ':' || shingle))`` — the
  lexicographic minimum of a uniformly-distributed hex string is a valid
  min-wise hash, no integer conversion needed;
- an *LSH band key* is ``md5(concat_ws(',', band slice of the signature))``;
- a *simhash* is built from the first 16 hex digits of md5 interpreted
  digit-by-digit (4 bits each) — emitted as a 64-char '0'/'1' string to stay
  integer-overflow-free and engine-portable.

All pure Column expressions — no Python UDFs, so hashing stays in the JVM
and scales linearly with input splits (no shuffle until the LSH band
group-by).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def norm_text(col: str | Column) -> Column:
    """Canonical text form for fingerprinting: lowercase, strip non-alnum
    (keeping spaces), collapse whitespace."""
    s = F.lower(_c(col))
    s = F.regexp_replace(s, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def doc_fingerprint(col: str | Column) -> Column:
    """Exact-dup fingerprint: md5 of the normalized text."""
    return F.md5(norm_text(col))


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Array<string> of ``bands`` LSH bucket keys: md5 of each contiguous
    band slice of the signature. Two docs are candidates iff any key matches."""
    keys = [
        F.md5(
            F.concat_ws(
                ",",
                F.lit(str(b)),
                F.concat_ws(",", F.slice(signature, b * rows_per_band + 1, rows_per_band)),
            )
        )
        for b in range(bands)
    ]
    return F.array(*keys)
