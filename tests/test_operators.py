"""Operator-layer tests (SURVEY §2.3–§2.7) on in-memory fixtures + real parquet."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from etl_jetro_spark.operators.aggregate import (
    first_per_group,
    merge_partials,
    partial_sums,
    sum_by,
)
from etl_jetro_spark.operators.canonical import CANONICAL_COLS, branch_fix_sql
from etl_jetro_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from etl_jetro_spark.operators.graph import connected_components
from etl_jetro_spark.operators.joins import anti_join, map_lookup_sql, semi_join
from etl_jetro_spark.operators.rangejoin import interval_overlap_join
from etl_jetro_spark.operators.sampling import split_assign
from etl_jetro_spark.operators.similarity import (
    ann_quality,
    cosine,
    embedding_near_dup,
    knn_join,
    lsh_bucket_knn,
)
from etl_jetro_spark.operators.sort import lot_last4_key_sql
from etl_jetro_spark.operators.textstats import bpe_ish_token_count, lang_id, quality_score
from etl_jetro_spark.pipelines import batch as B
from etl_jetro_spark.sqltext import sql_over
from tests.conftest import canonical, melt, py4j_commands, rows, union_find_components


def cosine_topk(df, id_col: str, vec_col: str, query: list[float], k: int = 10):
    """Exact top-k by cosine against a constant query vector — the oracle
    the approximate search paths are checked against. Scores are rounded to
    12 dp before the ordering, so exact ties break by id (the rule of
    ``operators.similarity``)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = df.select(F.col(id_col), F.round(cosine(v, q), 12).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


@pytest.fixture()
def wide(spark):
    # allocation-style wide sheet after header promotion (FIXTURES.md §1)
    return spark.createDataFrame(
        [
            ("12345", "desc a", "3", "0", "2.0"),
            ("67890", "desc b", None, "1", ""),
            ("12345", "desc a", "1", "4", "x"),
        ],
        ["Item#", "Item Description", "114", "449.0", "86"],
    )


def test_melt_u1(spark, wide):
    long = melt(spark, wide.drop("Item Description"), ["Item#"], "Branch", "Distro Size")
    assert long.columns == ["Item#", "Branch", "Distro Size"]
    got = rows(long)
    # '449.0' header cleaned to '449'
    assert ("12345", "449", "0") in got and ("67890", "86", "") in got
    assert long.count() == 9


def test_melt_numeric_vars_only(spark, wide):
    long = melt(spark, wide, ["Item#"], "Store", "value", numeric_only=True)
    assert set(r["Store"] for r in long.select("Store").distinct().collect()) == {
        "114", "449", "86",
    }


def test_melt_between(spark):
    """U4: Flips baby melts only the store columns strictly between DESC
    (or pack size) and Lot #."""
    wide = pd.DataFrame(
        [("a", "d", "1", "2", "lot1", "junk")],
        columns=["Item", "DESC", "114", "86.0", "Lot #", "trail"],
    )
    long = B.build_baby_flip(spark, wide, [], {})
    assert rows(long.select("Store")) == [(86,), (114,)]


def _stores(width: int) -> list[str]:
    return [f"{100 + i}.0" for i in range(width)]


def _allocation(spark, width):
    wide = pd.DataFrame([["i1"] + [str(i + 1) for i in range(width)]], columns=["Item#"] + _stores(width))
    return lambda: B.build_allocation(spark, wide, base_date="2026-08-17")


def _pricesheet(spark, width):
    wide = pd.DataFrame([["i1"] + ["$1.50"] * width], columns=["Item#"] + _stores(width))
    return lambda: B.build_pricesheet_long(spark, wide)


def _acme(spark, width):
    """An ACME sheet carrying ``width`` extra columns."""
    cols = ["dock", "Branch", "Item", "Description", "Distro Size"] + [f"x{i}" for i in range(width)]
    wide = pd.DataFrame([["189", "86", "12", "d", "5"] + ["e"] * width], columns=cols)
    return lambda: B.build_acme_like(spark, wide, "acme", "il", "2026-08-17")


def _big_flip(spark, stores, keys):
    """A Flips big sheet with ``stores`` store columns and a Fob/Xdock
    store block of ``keys`` stores."""
    wide = pd.DataFrame([["i1", "L1"] + ["2"] * stores], columns=["Item", "Lot #"] + _stores(stores))
    block = {s: "1.5" for s in _stores(keys)}
    return lambda: B.build_big_flip(spark, wide, {"xdock": block, "fob": block}, "2026-08-17")


def _baby_flip(spark, stores, trail):
    """A Flips baby sheet with ``stores`` store columns and ``trail``
    columns right of Lot #, with PO and carrier maps of 8 stores."""
    cols = ["Item", "DESC", "pack size"] + _stores(stores) + ["Lot #"] + [f"t{i}" for i in range(trail)]
    wide = pd.DataFrame([["i1", "d", "4", "na"] + ["2"] * (stores - 1) + ["L1"] + ["n/a"] * trail], columns=cols)
    po = [(f"PO-{i}", str(100 + i), "") for i in range(8)]
    return lambda: B.build_baby_flip(spark, wide, po, {str(100 + i): f"C{i}" for i in range(8)}, "2026-08-17")


# the operator a build carries → the build over an input ``width`` wide
# there (made outside the count)
_WIDTH_BUILDS = {
    "melt": _allocation,
    "parse_money": _pricesheet,
    "to_canonical": _acme,
    "sum_by_parse": lambda spark, width: _big_flip(spark, width, keys=8),
    "map_join": lambda spark, width: _big_flip(spark, 8, keys=width),
    "melt_between": lambda spark, width: _baby_flip(spark, width, trail=0),
    "normalize_na_strings": lambda spark, width: _baby_flip(spark, 8, trail=width),
}


@pytest.mark.parametrize("builder", sorted(_WIDTH_BUILDS))
def test_plan_building_is_width_independent(spark, monkeypatch, builder):
    """Building (no action) a supplier plan costs the same number of Py4J
    round trips at 8 and at 64 store columns, sheet columns or map keys:
    each build is one SQL text. Each case widens the part of one build
    that an operator it carries grows with (the melt's columns, the
    canonical projection's input, the map lookups' keys, the NA
    normalization's columns). One uncounted build first keeps first-call
    lookups out of the count."""
    counts = {}
    for width in (8, 8, 64):
        build = _WIDTH_BUILDS[builder](spark, width)
        counts[width] = py4j_commands(monkeypatch, build)
    assert counts[8] == counts[64], counts


def test_sum_by_a1(spark, wide):
    long = melt(spark, wide, ["Item#"], "Branch", "v", numeric_only=True)
    agg = sum_by(long, ["Branch", "Item#"], "v", out="Distro Size")
    got = {(r["Branch"], r["Item#"]): r["Distro Size"] for r in agg.collect()}
    # 'x' and '' and NULL coerce to 0; zero groups dropped
    assert got[("114", "12345")] == 4.0
    assert got[("449", "12345")] == 4.0
    assert ("86", "67890") not in got  # '' -> 0 -> dropped
    assert ("449", "67890") in got


def test_first_per_group(spark):
    df = spark.createDataFrame(
        [("b1", 3, "x3"), ("b1", 1, "x1"), ("b2", 5, "x5")], ["b", "o", "v"]
    )
    got = rows(first_per_group(df, ["b"], [F.col("o")], ["v"]))
    assert got == [("b1", "x1"), ("b2", "x5")]


def test_map_join(spark):
    fact = spark.createDataFrame([("114",), (" Lot 7 ",), ("999",)], ["Store"])
    lookup = map_lookup_sql({"114": "8", "999": 0}, "Store")
    m = sql_over(spark, {"fact": fact}, f"SELECT Store, {lookup} AS carrier FROM fact")
    got = dict(rows(m.select("Store", "carrier")))
    assert got["114"] == "8" and got["999"] is None  # zero→blank rule


def test_anti_semi(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    right = spark.createDataFrame([(2,), (3,)], ["k"])
    assert rows(anti_join(left, right, "k")) == [(1,)]
    assert rows(semi_join(left, right, "k")) == [(2,), (3,)]


def test_lot_last4_key(spark):
    df = spark.createDataFrame(
        [("498-68594 39024",), ("no digits",), ("x 12",)], ["lot"]
    )
    got = [r[0] for r in df.select(F.expr(lot_last4_key_sql("lot"))).collect()]
    assert got == [9024, 10**9, 12]


def test_branch_fix(spark):
    df = spark.createDataFrame([("86",), ("186",), ("7",), ("abc",)], ["b"])
    got = [r[0] for r in df.select(F.expr(branch_fix_sql("b"))).collect()]
    assert got == [186, 186, 7, None]


def test_to_canonical(spark):
    fact = spark.createDataFrame(
        [("86", "12", "5"), ("402", "34", "7")], ["Branch", "Item", "Distro Size"]
    )
    out = canonical(spark, fact, "247", "2026-08-17")
    assert out.columns == CANONICAL_COLS
    r = out.collect()[0]
    assert r["Branch"] == 186 and r["Supplier On Record"] == 81214
    assert r["WW Buyer"] == "P2E" and str(r["Expected Delivery Date"]) == "2026-08-17"


def test_exact_dedup_real_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = exact_dedup(docs, "doc_id", "text")
    assert d.count() <= docs.count()
    assert d.agg(F.sum("dup_count")).collect()[0][0] == docs.count()


def test_minhash_lsh_finds_planted_dup(spark):
    base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely different words about query engines and shuffles everywhere")],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_candidates(df, "doc_id", "text", num_hashes=16, bands=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
        ["doc_id", "text"],
    )
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    # shingles(1): {ab,bc,cd,de,ef}; shingles(2): {ab,bc,cd,de,eg} → 4/6
    assert abs(got[(1, 2)] - 4 / 6) < 1e-9 and (1, 3) not in got


def test_ngram_jaccard_doc_freq_cap(spark):
    """Skew guard: a shingle present in >max_doc_freq docs is dropped from
    the inverted index, so pairs whose ONLY overlap is the hot shingle
    produce no candidate at all — bounded Σbucket², no hot-key join."""
    hot = "common boiler plate"  # one 3-gram shared by every doc
    docs = [(i, f"{hot} unique{i} tail{i} end{i}") for i in range(1, 9)]
    docs += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.01)
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.01, max_doc_freq=4
    )
    got_un = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    got_cap = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    # uncapped: all 28 hot-only pairs are candidates; capped: none survive
    assert len(got_un) == 28 + 1
    assert set(got_cap) == {(100, 101)}
    # Jaccard denominator still uses UNCAPPED set sizes (exact semantics
    # for surviving pairs): docs 100/101 are identical → 1.0
    assert abs(got_cap[(100, 101)] - 1.0) < 1e-9


def test_embedding_near_dup_banded(spark, sf_dir):
    """Planted near-dups (first component negated) are recovered through
    sign-LSH banding + exact verify; unrelated pairs stay out."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    pert = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(-F.element_at(F.col("embedding"), 1)),
            F.slice(F.col("embedding"), 2, 63),
        ).alias("embedding"),
    )
    u = emb.select("vec_id", "embedding").unionByName(pert)
    got = embedding_near_dup(
        u, "vec_id", "embedding", dims=64, threshold=0.9, bits=32, band_bits=8
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    planted = {p for p in pairs if p[1] - p[0] == 100000}
    assert len(planted) >= 60  # LSH recall on 100 planted pairs
    assert all(r["score"] >= 0.9 for r in got)


def test_cosine_topk_real_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = cosine_topk(emb, "vec_id", "embedding", [float(x) for x in q], k=5).collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["score"] - 1.0) < 1e-6
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_knn_and_lsh_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200).cache()
    probes = emb.filter(F.col("vec_id") < 3)
    exact = knn_join(probes, emb, "vec_id", "embedding", k=3)
    approx = lsh_bucket_knn(probes, emb, "vec_id", "embedding", dims=64, k=3, bits=8, band_bits=2)
    e = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e) == 9
    # approximate recall must be nontrivial with 4 bands of 2 bits
    assert len(e & a) >= 3


def test_ann_multiprobe_recall_sf01(spark):
    """Multi-probe LSH recall@3 ≥ 0.9 at sf0.1, and the quality telemetry
    shows the trade-off: more candidates than single-probe, fewer than the
    corpus. (The fixture corpus has only mid-similarity neighbors — cosine
    ≈ 0.4 — the hardest case for LSH; near-dups recall even cheaper.)"""
    import os

    sf = "/root/testdata/sf0.1"
    if not os.path.exists(f"{sf}/embeddings.parquet"):  # pragma: no cover
        import pytest

        pytest.skip("sf0.1 testdata absent")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    q = ann_quality(
        probes, emb, "vec_id", "embedding", dims=64, k=3,
        bits=12, band_bits=3, multiprobe=True,
    ).collect()
    n = emb.count()
    avg = sum(r["recall"] for r in q) / len(q)
    assert avg >= 0.9
    assert all(0 < r["n_candidates"] < n for r in q)


def test_textstats(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox, it jumps over the lazy dog!"), (2, "el la de que y en un 123")],
        ["doc_id", "text"],
    )
    out = quality_score(df, "text")
    r = {x["doc_id"]: x for x in out.collect()}
    assert r[1]["q_n_tokens"] == 10
    assert 0 <= r[1]["quality_score"] <= 1
    langs = {x["doc_id"]: x["l"] for x in df.select("doc_id", lang_id("text").alias("l")).collect()}
    assert langs[1] == "en" and langs[2] == "es"
    assert df.select(bpe_ish_token_count("text").alias("n")).collect()[0]["n"] == 12


def test_multimodal_plumbing(spark):
    from etl_jetro_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(1, bytearray(b"fakepng")), (2, bytearray(b"other")), (3, None)],
        "media_id long, content binary",
    )
    feats = MM.extract_features(MM.attach_meta(df), codec="fake")
    got = {r["media_id"]: r for r in feats.collect()}
    assert got[1]["n_bytes"] == 7 and 64 <= got[1]["thumb_w"] < 256
    assert got[3]["n_bytes"] == 0
    # deterministic across runs
    again = {
        r["media_id"]: r["feature"]
        for r in MM.extract_features(df, codec="fake").collect()
    }
    assert again[1] == got[1]["feature"]


def test_range_join_operator(spark):
    from etl_jetro_spark.operators.rangejoin import range_join

    df = spark.createDataFrame(
        [("u1", 1, 100), ("u1", 2, 150), ("u1", 3, 300), ("u2", 4, 120)],
        ["user", "id", "ts"],
    )
    pairs = range_join(df, df, ["user"], "ts", max_distance=60)
    got = {
        (r["id_a"], r["id_b"])
        for r in pairs.filter(F.col("id_a") < F.col("id_b")).collect()
    }
    # only (1,2) within 60; (2,3)=150 apart; u2 alone
    assert got == {(1, 2)}
    # boundary: exactly max_distance qualifies
    df2 = spark.createDataFrame([("u", 1, 0), ("u", 2, 60)], ["user", "id", "ts"])
    assert range_join(df2, df2, ["user"], "ts", 60).filter(
        F.col("id_a") < F.col("id_b")
    ).count() == 1


def test_salted_sum_equals_plain(spark, sf_dir):
    from etl_jetro_spark.operators.skew import salted_sum_by

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plain = {
        (r["l_returnflag"],): r["s"]
        for r in li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()
    }
    salted = {
        (r["l_returnflag"],): r["s"]
        for r in salted_sum_by(li, ["l_returnflag"], "l_quantity", out="s").collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert abs(plain[k] - salted[k]) < 1e-6


def test_salted_broadcast_join_equals_plain(spark, sf_dir):
    from etl_jetro_spark.operators.skew import salted_broadcast_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_suppkey")
    dim = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    plain = li.join(dim, "l_suppkey", "left").groupBy("s_name").count()
    salted = salted_broadcast_join(li, dim, "l_suppkey").groupBy("s_name").count()
    a = {r["s_name"]: r["count"] for r in plain.collect()}
    b = {r["s_name"]: r["count"] for r in salted.collect()}
    assert a == b


def test_connected_components_chain(spark):
    """A 5-node chain (worst diameter) collapses to one component labeled
    by its minimum id; an isolated pair stays its own component."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_layered_matches_per_layer(spark):
    """A layered CC sweep returns, per layer, exactly the labels of an
    independent per-layer run — layers never leak into each other, and
    the deepest layer still converges (it bounds the shared round
    count)."""
    per_layer = {
        "lo": [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "hi": [(1, 2), (10, 11), (11, 12)],
    }
    tagged = spark.createDataFrame(
        [(ly, a, b) for ly, es in per_layer.items() for a, b in es],
        ["layer", "id_a", "id_b"],
    )
    got = {
        (r["layer"], r["id"]): r["component"]
        for r in connected_components(tagged, layer="layer").collect()
    }
    for ly, es in per_layer.items():
        edges = spark.createDataFrame(es, ["id_a", "id_b"])
        ref = {
            (ly, r["id"]): r["component"]
            for r in connected_components(edges).collect()
        }
        assert {k: v for k, v in got.items() if k[0] == ly} == ref


def test_split_assign_deterministic(spark, sf_dir):
    """Deterministic splits: every row in exactly one split, proportions
    near the requested fractions, and byte-identical across invocations
    (the reproducibility contract seed-based sample() can't give)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = d.count()
    s1 = split_assign(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in s1.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == n
    assert 0.6 * n < counts["train"] < 0.95 * n
    s2 = split_assign(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))

    with pytest.raises(ValueError, match="sum to 1"):
        split_assign(d, "doc_id", {"a": 0.5, "b": 0.4})


def test_chunk_tokens_windows(spark):
    from etl_jetro_spark.operators.chunking import chunk_tokens

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b"), (3, ""), (4, "solo")],
        "id long, text string",
    )
    out = rows(chunk_tokens(df, "id", "text", chunk_size=4, stride=3))
    # doc 1: starts 0,3,6,9 -> sizes 4,4,4,1; doc 3 empty -> no chunks
    assert [r for r in out if r[0] == 1] == [
        (1, 0, "w0 w1 w2 w3", 4),
        (1, 1, "w3 w4 w5 w6", 4),
        (1, 2, "w6 w7 w8 w9", 4),
        (1, 3, "w9", 1),
    ]
    assert [r for r in out if r[0] == 2] == [(2, 0, "a b", 2)]
    assert [r for r in out if r[0] == 3] == []
    assert [r for r in out if r[0] == 4] == [(4, 0, "solo", 1)]


def test_pack_offsets_bins(spark):
    from etl_jetro_spark.operators.chunking import pack_offsets

    df = spark.createDataFrame(
        [("s", 1, 60), ("s", 2, 60), ("s", 3, 60), ("t", 1, 200)],
        "shard string, seq int, n_tokens int",
    )
    out = rows(pack_offsets(df, "shard", ["seq"], budget=100), "shard", "seq", "pack_id")
    # shard s offsets 0,60,120 -> bins 0,0,1; shard t independent -> bin 0
    assert out == [("s", 1, 0), ("s", 2, 0), ("s", 3, 1), ("t", 1, 0)]


def test_pii_scan_counts_and_redaction(spark):
    from etl_jetro_spark.operators.pii import pii_scan

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.co.uk ip 10.0.0.1 tel +1-555-123-4567 ssn 123-45-6789"),
            (2, "nothing personal here 1234"),
            (3, "local 555-123-4567 paren (212) 555-0187 dotted 555.123.4567"),
            (4, "years 1 999 2000 2001 sizes 12 345 678 9012"),
        ],
        "id long, text string",
    )
    out = {r[0]: r for r in pii_scan(df, "id", "text").collect()}
    assert tuple(out[1][1:5]) == (1, 1, 1, 1)
    assert out[1].redacted == "mail [EMAIL] ip [IPV4] tel [PHONE] ssn [SSN]"
    assert tuple(out[2][1:5]) == (0, 0, 0, 0)
    assert out[2].redacted == "nothing personal here 1234"
    # local, parenthesized, and dotted formats all detected (no +CC needed)
    assert out[3].n_phone == 3
    assert out[3].redacted == "local [PHONE] paren [PHONE] dotted [PHONE]"
    # space-separated number runs are NOT phones
    assert out[4].n_phone == 0 and "[PHONE]" not in out[4].redacted


def test_ngram_repetition_dup_frac(spark):
    from etl_jetro_spark.operators.textstats import ngram_repetition

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z"), (3, "q")],
        "id long, text string",
    )
    out = {r[0]: r for r in ngram_repetition(df, "id", "text", n=2).collect()}
    # doc 1 bigrams: ab,ba,ab,ba -> 4 total, 2 distinct -> dup 0.5
    assert (out[1].n_ngrams, out[1].n_distinct, out[1].dup_frac) == (4, 2, 0.5)
    assert (out[2].n_ngrams, out[2].n_distinct, out[2].dup_frac) == (2, 2, 0.0)
    assert (out[3].n_ngrams, out[3].dup_frac) == (0, 0.0)


def test_tfidf_top_terms_ranking(spark):
    from etl_jetro_spark.operators.textstats import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "rare rare common"), (2, "common other"), (3, "common third")],
        "id long, text string",
    )
    out = rows(tfidf_top_terms(df, "id", "text", k=2))
    by_doc = {}
    for i, rk, tok in out:
        by_doc.setdefault(i, []).append((rk, tok))
    # 'rare' df=1 tf=2 -> score 6; 'common' df=3 tf=1 -> score 1
    assert by_doc[1] == [(1, "rare"), (2, "common")]
    # doc 2: 'other' df=1 score 3 beats 'common' score 1
    assert by_doc[2] == [(1, "other"), (2, "common")]


def test_unigram_lm_scores(spark):
    from etl_jetro_spark.operators.textstats import unigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b")],
        "id long, text string",
    )
    out = {r[0]: r for r in unigram_lm_scores(df, "id", "text").collect()}
    # corpus: a=2, b=2, total=4 -> every inv_p = 2.0
    assert (out[1].n_tokens, out[1].mean_inv_prob) == (3, 2.0)
    assert (out[2].n_tokens, out[2].mean_inv_prob) == (1, 2.0)


def test_stratified_sample_quota(spark, sf_dir):
    from etl_jetro_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sizes = {r[0]: r[1] for r in d.groupBy("lang").count().collect()}
    out = stratified_sample(d, "doc_id", "lang", 0.3, salt="t:")
    got = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
    import math

    for lang, n in sizes.items():
        assert got.get(lang, 0) == math.ceil(n * 0.3)
    # deterministic: same call -> same rows
    a = rows(out.select("doc_id"))
    b = rows(stratified_sample(d, "doc_id", "lang", 0.3, salt="t:").select("doc_id"))
    assert a == b


def test_quantize_int8_roundtrip(spark):
    from etl_jetro_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r[0]: r for r in quantize_int8(df, "vec_id", "embedding").collect()}
    assert out[1].q_csv == "127,-64,32,0"  # -0.5/scale = -63.5 -> half-away -> -64
    assert out[1].scale == 1.0 / 127  # scale emitted exact (unrounded)
    assert out[1].mse < (out[1].scale / 2) ** 2  # bounded by half-step^2
    assert out[2].q_csv == "0,0,0,0" and out[2].scale == 0.0 and out[2].mse == 0.0


def test_decontaminate_broadcast(spark):
    from etl_jetro_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "completely unrelated training text sample words here"),
        ],
        "id long, text string",
    )
    ev = spark.createDataFrame(
        [(1, "quick brown fox jumps over me")], "id long, text string"
    )
    out = rows(decontaminate(train, ev, "id", "text", n=5))
    assert out == [(10, 1)]  # shares 'quick brown fox jumps over'
    plan = decontaminate(train, ev, "id", "text", n=5)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # eval side broadcast, corpus never shuffles


def test_top_ngrams_tiebreak(spark):
    from etl_jetro_spark.operators.dedup import top_ngrams

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "b c")], "id long, text string"
    )
    out = top_ngrams(df, "id", "text", n=2, k=3).collect()
    # bigrams: doc1 {a b, b a, a b}, doc2 {b c}; 'a b'x2 first, then asc ties
    assert [(r.ngram, r.cnt) for r in out] == [("a b", 2), ("b a", 1), ("b c", 1)]


def test_incremental_dedup(spark):
    from etl_jetro_spark.operators.dedup import incremental_dedup

    old = spark.createDataFrame(
        [(1, "seen text one"), (2, "seen text two")], "doc_id long, text string"
    )
    seen = exact_dedup(old, "doc_id", "text").select("fingerprint")
    batch = spark.createDataFrame(
        [
            (10, "brand new content"),
            (11, "seen text one"),          # already in corpus -> dropped
            (12, "another new thing"),
            (13, "another new thing"),      # in-batch dup -> min id wins
        ],
        "doc_id long, text string",
    )
    out = rows(incremental_dedup(batch, seen, "doc_id", "text").select("doc_id"))
    assert out == [(10,), (12,)]


def test_keep_best_by_argmax(spark):
    from etl_jetro_spark.operators.dedup import keep_best_by

    df = spark.createDataFrame(
        [("g1", 1, 0.5), ("g1", 2, 0.9), ("g1", 3, 0.9), ("g2", 4, 0.1)],
        "g string, id long, q double",
    )
    out = rows(
        keep_best_by(df, "g", [(-F.col("q")).alias("_n"), F.col("id").alias("_i")], ["id", "q"])
    )
    # g1: q=0.9 tie -> min id 2; struct-min not window
    assert out == [("g1", 2, 0.9), ("g2", 4, 0.1)]


def test_interval_overlap_join_matches_brute_force(spark):
    """Bucketed interval-overlap join = naive theta join, including
    intervals spanning many buckets, touching endpoints, and negative
    starts (floor-division bucketing)."""
    import itertools
    import random

    rng = random.Random(7)
    data = [
        (k, i, s, s + rng.randint(0, 250))
        for i, (k, s) in enumerate(
            (rng.choice(["a", "b"]), rng.randint(-300, 300)) for _ in range(60)
        )
    ]
    df = spark.createDataFrame(data, ["k", "id", "s", "e"])
    got = {
        (r["k"], r["id_a"], r["id_b"])
        for r in interval_overlap_join(
            df, df, ["k"], "s", "e", bucket_width=100
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .collect()
    }
    want = {
        (ka, ia, ib)
        for (ka, ia, sa, ea), (kb, ib, sb, eb) in itertools.combinations(data, 2)
        if ka == kb and sa <= eb and sb <= ea
    }
    # combinations() preserves input order, not id order — normalize
    want = {(k, min(i, j), max(i, j)) for k, i, j in want}
    assert got == want


def test_interval_overlap_join_no_duplicate_pairs(spark):
    """A pair overlapping across several shared buckets is emitted once
    (canonical-bucket dedup, no distinct)."""
    df = spark.createDataFrame(
        [("k", 1, 0, 1000), ("k", 2, 50, 900)], ["k", "id", "s", "e"]
    )
    out = interval_overlap_join(df, df, ["k"], "s", "e", bucket_width=10)
    assert (
        out.filter((F.col("id_a") == 1) & (F.col("id_b") == 2)).count() == 1
    )


def test_partial_sums_merge_is_exact(spark):
    """merge_partials over disjoint batches == from-scratch aggregation
    (decimal values keep the check exact)."""
    rows_in = [(i % 5, f"{i}.{i % 100:02d}") for i in range(200)]
    df = spark.createDataFrame(rows_in, ["k", "v"]).select(
        "k", F.col("v").cast("decimal(18,2)").alias("v")
    )
    whole = partial_sums(df, ["k"], "v")
    parts = [
        partial_sums(df.filter(F.col("v") < 100), ["k"], "v"),
        partial_sums(df.filter(F.col("v") >= 100), ["k"], "v"),
    ]
    merged = merge_partials(parts, ["k"])
    assert rows(merged.select("k", "psum", "pcnt")) == rows(
        whole.select("k", "psum", "pcnt")
    )


def test_morton_key_locality(spark):
    """Adjacent Morton codes differ in at most one dimension step — the
    key interleaves correctly (spot-check against a Python reference)."""
    from etl_jetro_spark.operators.layout import morton_sql

    def ref(x, y, bits=10):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return out

    rows_in = [(x, y) for x in range(0, 40, 7) for y in range(0, 40, 11)]
    df = spark.createDataFrame(rows_in, ["x", "y"]).select(
        "x", "y", F.expr(morton_sql("x", "y")).alias("z")
    )
    for r in df.collect():
        assert r["z"] == ref(r["x"], r["y"])


def test_weighted_hash_sample_extremes_and_determinism(spark):
    from etl_jetro_spark.operators.sampling import weighted_hash_sample

    df = spark.range(0, 1000).select(
        F.col("id").cast("string").alias("doc_id")
    )
    zero = weighted_hash_sample(df.withColumn("w", F.lit(0.0)), "doc_id", "w")
    one = weighted_hash_sample(df.withColumn("w", F.lit(1.0)), "doc_id", "w")
    assert zero.count() == 0 and one.count() == 1000
    half = weighted_hash_sample(df.withColumn("w", F.lit(0.5)), "doc_id", "w")
    n = half.count()
    assert 400 < n < 600                      # ~Binomial(1000, .5)
    # deterministic: same input -> identical subset
    a = {r["doc_id"] for r in half.collect()}
    b = {r["doc_id"] for r in half.collect()}
    assert a == b


def test_ivf_ann_recall_vs_exact(spark):
    """IVF-flat with nprobe=8 of 16 lists must recover most of the exact
    cosine top-10 (same bar as the sign-LSH path); nprobe=16 IS exact."""
    from etl_jetro_spark.operators.similarity import ivf_assign, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    probe = emb.filter(F.col("vec_id") == 1).select("embedding")
    qv = [float(x) for x in probe.head()[0]]
    inv = ivf_assign(emb, "vec_id", "embedding", cents)

    exact = {r["vec_id"] for r in cosine_topk(emb, "vec_id", "embedding", qv, k=10).collect()}
    got8 = {
        r["vec_id"]
        for r in ivf_topk(inv, "vec_id", "embedding", cents, probe, "embedding", nprobe=8, k=10).collect()
    }
    assert len(exact & got8) / len(exact) >= 0.5
    got_all = {
        r["vec_id"]
        for r in ivf_topk(inv, "vec_id", "embedding", cents, probe, "embedding", nprobe=16, k=10).collect()
    }
    assert got_all == exact


def test_interval_overlap_join_drops_inverted_intervals(spark):
    """end < start is an empty interval, not a descending bucket sweep
    (sequence(lo, hi) with hi < lo yields a DESCENDING sequence — the
    operator must filter inverted rows before exploding)."""
    df = spark.createDataFrame(
        [("k", 1, 0, 100), ("k", 2, 500, 50)], ["k", "id", "s", "e"]
    )
    out = interval_overlap_join(df, df, ["k"], "s", "e", bucket_width=60)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in out.filter(F.col("id_a") != F.col("id_b")).collect()
    }
    assert pairs == set()        # the inverted row matches nothing
    self_rows = out.filter((F.col("id_a") == 1) & (F.col("id_b") == 1))
    assert self_rows.count() == 1  # the valid interval still self-matches


def test_exact_group_percentiles_matches_spark_percentile(spark):
    """Rank-based exact percentile == Spark's buffering `percentile`
    aggregate (which == DuckDB quantile_cont), incl. min/max as p=0/p=1,
    null exclusion, and a 1-row group."""
    from etl_jetro_spark.operators.aggregate import exact_group_percentiles

    df = spark.createDataFrame(
        [("a", float(v)) for v in [5, 1, 9, 3, 7, 2]]
        + [("b", 42.0)]
        + [("c", 1.0), ("c", None), ("c", 2.0)],
        ["g", "v"],
    )
    got = {
        r["g"]: (r["p50"], r["p95"], r["lo"], r["hi"])
        for r in exact_group_percentiles(
            df, ["g"], "v", {"p50": 0.5, "p95": 0.95, "lo": 0.0, "hi": 1.0}
        ).collect()
    }
    ref = {
        r["g"]: (r["p50"], r["p95"], r["lo"], r["hi"])
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.95)").alias("p95"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert set(got) == set(ref)
    for g in ref:
        for x, y in zip(got[g], ref[g]):
            assert abs(x - y) < 1e-9, (g, got[g], ref[g])


def test_exact_group_percentiles_n_col_counts_non_null(spark):
    """n_col rides the rank frame's _n: equals the per-group non-NULL
    count (NULLs excluded, matching the percentile semantics), as a
    BIGINT, without a second pass over the input."""
    from etl_jetro_spark.operators.aggregate import exact_group_percentiles

    df = spark.createDataFrame(
        [("a", float(v)) for v in [5, 1, 9, 3]]
        + [("b", 42.0)]
        + [("c", 1.0), ("c", None), ("c", 2.0)],
        ["g", "v"],
    )
    out = exact_group_percentiles(df, ["g"], "v", {"p50": 0.5}, n_col="n")
    got = {r["g"]: r["n"] for r in out.collect()}
    assert got == {"a": 4, "b": 1, "c": 2}
    assert dict(out.dtypes)["n"] == "bigint"


def test_exact_group_percentiles_prebarrier_same_result(spark):
    """prebarrier=True (freeze the narrow projection before the range
    sampler's extra pass) is a pure execution hint: results identical to
    the default path, including NULL exclusion and n_col."""
    from etl_jetro_spark.operators.aggregate import exact_group_percentiles

    df = spark.createDataFrame(
        [("a", float(v)) for v in [5, 1, 9, 3, 7]]
        + [("b", 42.0), ("b", None)],
        ["g", "v"],
    )
    kw = dict(ps={"p50": 0.5, "p90": 0.9}, n_col="n")
    base = {
        r["g"]: (r["p50"], r["p90"], r["n"])
        for r in exact_group_percentiles(df, ["g"], "v", **kw).collect()
    }
    fast = {
        r["g"]: (r["p50"], r["p90"], r["n"])
        for r in exact_group_percentiles(
            df, ["g"], "v", prebarrier=True, **kw
        ).collect()
    }
    assert base == fast


def test_exact_group_percentiles_plan_has_no_percentile_buffering(spark):
    """The point of the operator: the physical plan must be SortExec +
    window rank lookup, never the ObjectHashAggregate Percentile that
    buffers a group's whole multiset."""
    from etl_jetro_spark.operators.aggregate import exact_group_percentiles

    df = spark.range(1000).select(
        (F.col("id") % 5).alias("g"), F.col("id").cast("double").alias("v")
    )
    plan = (
        exact_group_percentiles(df, ["g"], "v", {"p50": 0.5})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "percentile" not in plan.lower()
    assert "ObjectHashAggregate" not in plan


def test_ivf_topk_multi_row_probe_guard_and_batch_mode(spark):
    from etl_jetro_spark.operators.similarity import ivf_assign, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    inv = ivf_assign(emb, "vec_id", "embedding", cents)
    probes = emb.filter(F.col("vec_id").isin(1, 2)).select("vec_id", "embedding")

    # multi-row probe without probe_id_col must raise, not merge silently
    with pytest.raises(ValueError, match="probe_id_col"):
        ivf_topk(inv, "vec_id", "embedding", cents, probes.select("embedding"), "embedding")

    # batch mode == per-probe single mode
    batch = ivf_topk(
        inv, "vec_id", "embedding", cents, probes, "embedding",
        nprobe=4, k=5, probe_id_col="vec_id",
    ).collect()
    for pid in (1, 2):
        single = ivf_topk(
            inv, "vec_id", "embedding", cents,
            probes.filter(F.col("vec_id") == pid).select("embedding"),
            "embedding", nprobe=4, k=5,
        ).collect()
        got = sorted(
            (r["vec_id"], round(r["score"], 6))
            for r in batch if r["probe_id"] == pid
        )
        want = sorted((r["vec_id"], round(r["score"], 6)) for r in single)
        assert got == want


def test_range_join_rejects_reserved_and_key_collisions(spark):
    from etl_jetro_spark.operators.rangejoin import range_join

    df = spark.createDataFrame([("k", 1, 10)], ["k", "ts", "_bucket"])
    with pytest.raises(ValueError, match="reserved"):
        range_join(df, df, ["k"], "ts", 60)
    clean = spark.createDataFrame([("k", 1, 5)], ["k", "s", "e"])
    with pytest.raises(ValueError, match="join keys"):
        interval_overlap_join(clean, clean, ["k", "s"], "s", "e", 10)


def test_weighted_hash_sample_threshold_rounds_not_truncates(spark):
    """0.3 * 10000 is 2999.999... in binary floating point; the keep
    threshold must round to 3000 (cross-engine CAST parity), so rows in
    bucket 2999 survive."""
    from etl_jetro_spark.operators.sampling import hash_bucket, weighted_hash_sample

    df = spark.range(0, 20000).select(F.col("id").cast("string").alias("doc_id"))
    on_boundary = df.filter(hash_bucket("doc_id", 10_000) == 2999)
    assert on_boundary.count() > 0          # fixture actually hits the bucket
    kept = weighted_hash_sample(df.withColumn("w", F.lit(0.3)), "doc_id", "w")
    got = {r["doc_id"] for r in kept.collect()}
    for r in on_boundary.collect():
        assert r["doc_id"] in got


def test_connected_components_assorted_graph(spark):
    """Min-propagation labels equal a union-find's on an assorted graph
    (two chains, a triangle, an isolated self-loop node)."""
    pairs = (
        [(i, i + 1) for i in range(10, 15)]        # chain A
        + [(30, 31), (31, 32), (32, 30)]           # triangle
        + [(50, 51), (52, 51)]                     # chain B (zigzag)
        + [(99, 99)]                               # isolated self-loop
    )
    edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == union_find_components(pairs)
    assert got[14] == 10 and got[32] == 30 and got[52] == 50 and got[99] == 99


def test_cms_one_sided_guarantee_and_unseen_zero(spark):
    """Count-min: estimate >= exact for every probed token; a token the
    stream never contained estimates 0 (all its counters empty) unless
    collisions fill them — with width >> distinct tokens here, exactly 0."""
    from etl_jetro_spark.operators.sketch import cms_build, cms_estimate

    toks = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 20 + [("c",)] * 5 + [("d",)], ["token"]
    )
    cms = cms_build(toks, "token", depth=4, width=4096)
    probes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("never",)], ["token"]
    )
    est = {r["token"]: r["est_cnt"] for r in cms_estimate(cms, probes, "token", depth=4, width=4096).collect()}
    exact = {"a": 50, "b": 20, "c": 5, "d": 1, "never": 0}
    for t, x in exact.items():
        assert est[t] >= x, (t, est[t], x)
    # width 4096 vs 4 distinct tokens: collision-free, so estimates exact
    assert est == exact


def test_containment_catches_subset_that_jaccard_misses(spark):
    from etl_jetro_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long_doc = short + " " + " ".join(f"filler{i} pad{i} extra{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "unrelated words entirely different")],
        ["doc_id", "text"],
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == 1.0     # full subset
    assert not any(3 in p for p in cont)
    jac = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    assert (1, 2) not in jac                          # Jaccard dilution


def test_compaction_plan_bins_respect_target(spark):
    """Sequential-fill bins: every bin's total stays under target + its
    largest file (fill overshoot is bounded by one file), assignment is
    deterministic, groups never mix."""
    from etl_jetro_spark.operators.layout import compaction_plan

    rows_in = [
        ("a", f"f{i:03d}", s)
        for i, s in enumerate([50, 120, 80, 200, 10, 90, 60, 150, 40, 30])
    ] + [("b", f"g{i}", 500) for i in range(3)]
    df = spark.createDataFrame(rows_in, ["dir", "file", "size"])
    plan = compaction_plan(df, ["dir"], "file", "size", target_bytes=200)
    got = plan.collect()
    assert len(got) == len(rows_in)
    bins = {}
    for r in got:
        bins.setdefault((r["dir"], r["bin"]), []).append(r["size"])
    for (d, b), sizes in bins.items():
        assert sum(sizes) <= 200 + max(sizes), (d, b, sizes)
    # deterministic re-plan
    again = {(r["dir"], r["file"]): r["bin"] for r in compaction_plan(
        df, ["dir"], "file", "size", target_bytes=200).collect()}
    first = {(r["dir"], r["file"]): r["bin"] for r in got}
    assert again == first
    with pytest.raises(ValueError):
        compaction_plan(df, ["dir"], "file", "size", target_bytes=0)


# --- round-3 widening: winnowing, line dedup, KMV, bloom, skyline, MAD ----


def test_winnow_guarantee_shared_substring(spark):
    from etl_jetro_spark.operators.dedup import winnow_fingerprints

    # any shared substring of length >= k + w - 1 = 11 must share a
    # fingerprint (the winnowing guarantee)
    shared = "zqxjkwvbnmp"  # 11 chars, appears in both docs
    df = spark.createDataFrame(
        [
            (1, f"aaaa {shared} bbbb"),
            (2, f"cccc {shared} dddd"),
            (3, "entirely different text with nothing in common at all"),
        ],
        ["doc_id", "text"],
    )
    fp = winnow_fingerprints(df, "doc_id", "text", k=8, w=4)
    by_doc = {
        r["doc_id"]: {x["fingerprint"] for x in fp.collect() if x["doc_id"] == r["doc_id"]}
        for r in fp.select("doc_id").distinct().collect()
    }
    assert by_doc[1] & by_doc[2], "shared 11-char substring must share a fingerprint"
    # density: fingerprints are a strict subset of k-gram count
    n_grams = len("aaaa zqxjkwvbnmp bbbb") - 7
    assert 0 < len(by_doc[1]) < n_grams


def test_winnow_short_text_yields_nothing(spark):
    from etl_jetro_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame([(1, "short")], ["doc_id", "text"])
    assert winnow_fingerprints(df, "doc_id", "text", k=8, w=4).count() == 0


def test_line_dedup_first_occurrence_survives(spark):
    from etl_jetro_spark.operators.dedup import line_dedup

    dup = "one two three four five"
    df = spark.createDataFrame(
        [
            (1, f"{dup} unique alpha beta gamma delta"),
            (2, f"{dup} other words entirely here now"),
            (3, "totally fresh content nothing repeated"),
        ],
        ["doc_id", "text"],
    )
    out = line_dedup(df, "doc_id", "text", line_words=5)
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    # doc 1 keeps both its lines; doc 2 loses the duplicated first line
    assert got[1]["n_lines"] == 2 and got[1]["n_kept"] == 2
    assert got[2]["n_lines"] == 2 and got[2]["n_kept"] == 1
    assert got[2]["text_kept"] == "other words entirely here now"
    assert got[3]["n_kept"] == 1
    # reassembly preserves order
    assert got[1]["text_kept"].startswith(dup)


def test_line_dedup_empty_text_row_kept(spark):
    from etl_jetro_spark.operators.dedup import line_dedup

    df = spark.createDataFrame([(1, ""), (2, "some words here")], ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in line_dedup(df, "doc_id", "text").collect()}
    assert got[1] == {"doc_id": 1, "n_lines": 0, "n_kept": 0, "text_kept": ""}
    assert got[2]["n_kept"] == 1


def test_kmv_jaccard_exact_on_small_sets(spark):
    from etl_jetro_spark.operators.sketch import kmv_pairwise_jaccard

    # unions smaller than k: the estimator degenerates to EXACT Jaccard
    rows_ = [("a", x) for x in "pqrs"] + [("b", x) for x in "rstu"] + [
        ("c", x) for x in "xyz"
    ]
    df = spark.createDataFrame(rows_, ["grp", "item"])
    got = {
        (r["group_a"], r["group_b"]): r["est_jaccard"]
        for r in kmv_pairwise_jaccard(df, "grp", "item", k=32).collect()
    }
    assert got[("a", "b")] == pytest.approx(2 / 6)  # {r,s} / {p..u}
    assert got[("a", "c")] == 0.0 and got[("b", "c")] == 0.0


def test_kmv_estimate_close_on_large_overlap(spark):
    from etl_jetro_spark.operators.sketch import kmv_pairwise_jaccard

    a = [("a", f"tok{i}") for i in range(400)]
    b = [("b", f"tok{i}") for i in range(200, 600)]  # true J = 200/600
    df = spark.createDataFrame(a + b, ["grp", "item"])
    est = kmv_pairwise_jaccard(df, "grp", "item", k=64).collect()[0]["est_jaccard"]
    assert abs(est - 200 / 600) < 0.15


def test_bloom_no_false_negatives_and_some_rejection(spark):
    from etl_jetro_spark.operators.sketch import bloom_build, bloom_contains

    present = spark.range(0, 500).withColumnRenamed("id", "k")
    bloom = bloom_build(present, "k", m_words=256, k_hashes=4)
    probes = spark.range(0, 1000).withColumnRenamed("id", "k")
    got = {r["k"]: r["maybe_present"] for r in bloom_contains(
        bloom, probes, "k", m_words=256, k_hashes=4
    ).collect()}
    assert all(got[k] for k in range(500)), "false negative — never allowed"
    absent_hits = sum(got[k] for k in range(500, 1000))
    assert absent_hits < 250, f"FPP implausibly high: {absent_hits}/500"


def test_pareto_frontier_matches_brute_force(spark):
    import random

    from etl_jetro_spark.operators.frontier import pareto_frontier

    rnd = random.Random(7)
    pts = [(i, rnd.randrange(0, 50), rnd.randrange(0, 50)) for i in range(300)]
    # include exact ties on both axes
    pts += [(1000, 5, 40), (1001, 5, 40)]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    got = {r["id"] for r in pareto_frontier(df, "x", "y").collect()}
    brute = {
        i
        for (i, x, y) in pts
        if not any(
            (x2 <= x and y2 >= y and (x2 < x or y2 > y))
            for (_, x2, y2) in pts
        )
    }
    assert got == brute


def test_segment_overlap_counts(spark):
    from etl_jetro_spark.operators.similarity import segment_overlap

    df = spark.createDataFrame(
        [("s1", 1), ("s1", 2), ("s1", 2), ("s2", 2), ("s2", 3), ("s3", 9)],
        ["seg", "member"],
    )
    got = {
        (r["seg_a"], r["seg_b"]): r.asDict() for r in segment_overlap(df, "seg", "member").collect()
    }
    r = got[("s1", "s2")]
    assert (r["n_a"], r["n_b"], r["n_both"]) == (2, 2, 1)
    assert r["jaccard"] == pytest.approx(1 / 3)
    assert ("s1", "s3") not in got  # zero-intersection pairs drop out


def test_mad_outliers_flags_injected_spike(spark):
    from etl_jetro_spark.operators.aggregate import mad_outliers

    vals = [("g", float(v)) for v in range(1, 101)] + [("g", 1e6)]
    df = spark.createDataFrame(vals, ["grp", "v"])
    r = mad_outliers(df, ["grp"], "v", z=3.0).collect()[0]
    assert r["n"] == 101
    assert r["med"] == pytest.approx(51.0)
    assert r["n_outliers"] == 1  # only the spike exceeds 3 MAD


def test_prefix_filter_jaccard_lossless_vs_full_index(spark):
    from etl_jetro_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 1
        (3, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
        (4, "one two three four five six seven eight nine"),
        (5, "completely different words appear in this document here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert pref == full and (1, 3) in pref and (1, 2) in pref


def test_prefix_filter_prunes_candidates(spark):
    # a hot shingle shared by every doc must NOT put every doc pair in the
    # candidate set: with df-ascending prefix order the hot shingle sorts
    # last and stays outside the prefixes of dissimilar docs
    from etl_jetro_spark.operators.dedup import prefix_filter_jaccard_pairs

    hot = "common shared boiler plate"
    docs = [(i, f"{hot} unique{i} word{i} token{i} item{i} thing{i}") for i in range(12)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = prefix_filter_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.8)
    assert out.count() == 0  # no pair reaches 0.8


def test_bm25_ranks_term_dense_doc_higher(spark):
    from etl_jetro_spark.operators.textstats import bm25_scores

    df = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),
            (2, "spark engine runs fine today ok"),
            (3, "nothing relevant here at all"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["score"] for r in bm25_scores(
        df, "doc_id", "text", ["spark"]
    ).collect()}
    assert set(got) == {1, 2}  # doc 3 has no query term
    assert got[1] > got[2] > 0  # higher tf, shorter doc wins


def test_bm25_matches_reference_formula(spark):
    import math

    from etl_jetro_spark.operators.textstats import bm25_scores

    texts = {1: "a b c a", 2: "a d e f g h", 3: "x y z"}
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {r["doc_id"]: r["score"] for r in bm25_scores(
        df, "doc_id", "text", ["a", "x"], k1=1.2, b=0.75
    ).collect()}
    N, avgdl = 3, (4 + 6 + 3) / 3
    def bm25(tf, dfreq, dl):
        idf = math.log((N - dfreq + 0.5) / (dfreq + 0.5) + 1)
        return idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    assert got[1] == pytest.approx(bm25(2, 2, 4))
    assert got[2] == pytest.approx(bm25(1, 2, 6))
    assert got[3] == pytest.approx(bm25(1, 1, 3))


def test_group_ranked_dense_unique_and_tiebreak(spark):
    from etl_jetro_spark.operators.aggregate import group_ranked

    rows_ = [("g1", 5, 1), ("g1", 5, 2), ("g1", 3, 3), ("g2", 7, 4)]
    df = spark.createDataFrame(rows_, ["g", "v", "id"])
    got = {
        (r["g"], r["id"]): (r["_rn"], r["_n"])
        for r in group_ranked(df, ["g"], "v", tiebreak=["id"]).collect()
    }
    # ranks are 1..n per group; equal values ordered by the tiebreak
    assert got[("g1", 3)] == (1, 3)
    assert got[("g1", 1)] == (2, 3)
    assert got[("g1", 2)] == (3, 3)
    assert got[("g2", 4)] == (1, 1)


def test_group_ranked_many_partitions_still_contiguous(spark):
    from etl_jetro_spark.operators.aggregate import group_ranked

    df = spark.range(0, 5000).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("v")
    )
    out = group_ranked(df, ["g"], "v", num_range_partitions=16)
    agg = out.groupBy("g").agg(
        F.min("_rn").alias("lo"), F.max("_rn").alias("hi"),
        F.count(F.lit(1)).alias("n"), F.countDistinct("_rn").alias("nd"),
    ).collect()
    for r in agg:
        assert r["lo"] == 1 and r["hi"] == r["n"] == r["nd"]


def test_pareto_frontier_keeps_null_coordinate_rows(spark):
    # NOT-EXISTS semantics: NULL in either coordinate means every dominance
    # comparison is non-TRUE — the row is never dominated and dominates
    # nothing. Such rows bypass the sweep and are always kept.
    from etl_jetro_spark.operators.frontier import pareto_frontier

    rows = [
        (1, 1.0, 9.0),   # frontier
        (2, 2.0, 5.0),   # dominated by (1,9)
        (3, None, 7.0),  # NULL x — kept
        (4, 3.0, None),  # NULL y — kept
        (5, None, None), # both NULL — kept
    ]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    got = {r["id"] for r in pareto_frontier(df, "x", "y").collect()}
    assert got == {1, 3, 4, 5}


def test_prefix_filter_lossless_at_inexact_threshold(spark):
    # t=0.7 is not binary-representable: 0.7*|S| can float just above an
    # integer and an unguarded ceil() would shorten the prefix, losing
    # pairs. The guarded bound must stay lossless vs the full index.
    from etl_jetro_spark.operators.dedup import prefix_filter_jaccard_pairs

    # docs engineered so distinct 3-gram set sizes hit n=10 and n=20,
    # where 0.7*n lands exactly on an integer (the rounding hazard)
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"       # 10 3-grams
    near = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 x11"       # 9 shared
    long = " ".join(f"u{i}" for i in range(22))            # 20 3-grams
    docs = [(1, base), (2, near), (3, base), (4, long)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for t in (0.7, 0.1, 0.3):
        full = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=t
            ).collect()
        }
        pref = {
            (r["id_a"], r["id_b"])
            for r in prefix_filter_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=t
            ).collect()
        }
        assert pref == full, f"prefix filter lost pairs at t={t}"


def test_point_in_time_join_rejects_column_collisions(spark):
    from etl_jetro_spark.operators.cdc import point_in_time_join

    facts = spark.createDataFrame(
        [(1, 100, "x")], ["k", "t", "price"]
    )
    versions = spark.createDataFrame(
        [(1, 50, 0, "a")], ["k", "vt", "seq", "price"]
    )
    with pytest.raises(ValueError, match="price"):
        point_in_time_join(
            facts, versions, ["k"], "t", "vt", "seq", ["price"]
        )
    facts2 = facts.withColumnRenamed("price", "version_from")
    versions2 = versions.withColumnRenamed("price", "attr")
    with pytest.raises(ValueError, match="version_from"):
        point_in_time_join(
            facts2, versions2, ["k"], "t", "vt", "seq", ["attr"]
        )


def test_mad_outliers_excludes_nulls_from_n(spark):
    # n must count exactly the rows the medians were computed over;
    # all-NULL groups drop out entirely instead of half-joining
    from etl_jetro_spark.operators.aggregate import mad_outliers

    rows = [("g", float(v)) for v in range(1, 101)] + [
        ("g", 1e6),
        ("g", None),
        ("g", None),
        ("allnull", None),
    ]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = {r["grp"]: r.asDict() for r in mad_outliers(df, ["grp"], "v").collect()}
    assert "allnull" not in out
    r = out["g"]
    assert r["n"] == 101  # NULLs not counted
    assert r["med"] == pytest.approx(51.0)
    assert r["n_outliers"] == 1


def test_capped_index_drops_planted_hot_key(spark):
    # a key shared by every doc (boilerplate) must vanish; rare keys stay
    from etl_jetro_spark.operators.dedup import capped_index

    rows = [(i, "HOT") for i in range(50)] + [(1, "rare"), (2, "rare")]
    idx = spark.createDataFrame(rows, ["doc", "k"])
    out = capped_index(idx, "k", max_doc_freq=10)
    got = {(r["doc"], r["k"]) for r in out.collect()}
    assert got == {(1, "rare"), (2, "rare")}


def test_winnow_overlap_cap_bounds_boilerplate_pairs(spark):
    # 40 docs sharing one long boilerplate block + one genuinely copied
    # pair. Uncapped, the boilerplate fingerprints alone connect all
    # 40*39/2 pairs; with the cap only the copied pair (whose shared
    # fingerprints come from its own long unique text) survives.
    from etl_jetro_spark.operators.dedup import winnow_overlap_pairs

    boiler = "this footer is identical across every page of the site " * 3
    docs = [(i, f"{boiler} unique content {i} " + " ".join(f"tok{i}x{j}" for j in range(10))) for i in range(40)]
    copied = "a very long original passage that someone copied wholesale into another document verbatim " * 3
    docs += [(100, copied + " tail alpha"), (101, copied + " tail beta")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    uncapped = winnow_overlap_pairs(df, "doc_id", "text", min_shared=5)
    capped = winnow_overlap_pairs(
        df, "doc_id", "text", min_shared=5, max_doc_freq=10
    )
    n_unc = uncapped.count()
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert n_unc >= 40 * 39 // 2  # boilerplate connects everything
    assert got == {(100, 101)}  # cap keeps only the real copy


def test_group_ranked_boundaries_straddle_partitions_heavy_dups(spark):
    # adversarial layout for the range-partitioned rank frame: 3 groups
    # over 64 range partitions, so every group SPANS many partitions and
    # every partition boundary falls inside a group; values are heavily
    # duplicated (only 7 distinct per group) so duplicate runs straddle
    # partition boundaries too. Ranks must still be the exact per-group
    # 1..n permutation row_number() would give under the same tiebreak.
    import random

    from pyspark.sql import Window

    from etl_jetro_spark.operators.aggregate import group_ranked

    rnd = random.Random(42)
    rows = [
        (f"g{i % 3}", float(rnd.randrange(0, 7)), i)  # i = unique tiebreak
        for i in range(20_000)
    ]
    df = spark.createDataFrame(rows, ["g", "v", "tb"]).repartition(13)
    out = group_ranked(
        df, ["g"], "v", num_range_partitions=64, tiebreak=["tb"]
    )
    w = Window.partitionBy("g").orderBy("v", "tb")
    want = {
        (r["g"], r["tb"]): r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    sizes = {}
    for g, _, _ in rows:
        sizes[g] = sizes.get(g, 0) + 1
    got = out.collect()
    assert len(got) == 20_000
    for r in got:
        assert r["_rn"] == want[(r["g"], r["tb"])], (r["g"], r["tb"])
        assert r["_n"] == sizes[r["g"]]


def test_pmi_collocations_finds_planted_phrase(spark):
    # "zyx qwv" always co-occurs and its words never appear apart — its
    # lift must be ~N/n_ab (the maximum possible) and rank first
    from etl_jetro_spark.operators.textstats import pmi_collocations

    # filler is SHUFFLED per doc so no filler bigram repeats consistently;
    # only the planted pair is always adjacent (and its words never appear
    # apart), so it alone pairs perfect adjacency with rare words
    import random

    rnd = random.Random(3)
    vocab = ["cat", "sat", "mat", "dog", "bird", "tree", "car", "sun"]
    docs = []
    for i in range(10):
        words = [rnd.choice(vocab) for _ in range(40)]
        docs.append((i, " ".join(words) + " zyx qwv"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    top = pmi_collocations(df, "doc_id", "text", min_count=5, k=3).collect()
    assert top[0]["bigram"] == "zyx qwv"
    assert top[0]["n_ab"] == 10 and top[0]["n_a"] == 10 and top[0]["n_b"] == 10
    # lift = n_ab * N / (n_a * n_b) = 10 * 420 / 100
    assert top[0]["lift"] == pytest.approx(42.0)


def test_distribution_drift_tvd_detects_shift(spark):
    # group "shifted": first half values ~[0,10), second half ~[90,100) —
    # disjoint bins, TVD = 1. group "stable": same distribution both
    # halves — TVD = 0. group "only_first" must drop out.
    from etl_jetro_spark.operators.profile import distribution_drift_tvd

    rows = []
    for i in range(200):
        t = i  # first half: t < 100
        rows.append(("shifted", float(i % 10) if i < 100 else 90.0 + i % 10, i))
        rows.append(("stable", float(i % 50), i))
    rows += [("only_first", 5.0, 0)]
    df = spark.createDataFrame(rows, ["g", "v", "t"])
    got = {
        r["g"]: r.asDict()
        for r in distribution_drift_tvd(df, "g", "v", "t", bins=10).collect()
    }
    assert "only_first" not in got
    assert got["shifted"]["tvd"] == pytest.approx(1.0)
    assert got["stable"]["tvd"] == pytest.approx(0.0, abs=0.06)
    assert got["shifted"]["n_first"] == 100 and got["shifted"]["n_second"] == 100


def test_quality_gate_rule_ladder(spark):
    from etl_jetro_spark.operators.textstats import quality_gate

    good = "the cat and the dog sat on a mat in the warm sun for hours today"
    docs = [
        (1, good),                                   # keeps
        (2, "tiny doc"),                             # too_short
        (3, "the cat " * 10),                        # repetitive (2 distinct / 20)
        (4, " ".join(f"w{i}" for i in range(30))),   # low_stopword
        (5, ""),                                     # empty -> too_short
        (6, "the " + " ".join("abcdefghijklmnopqr" for _ in range(20))),  # word_length
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in quality_gate(df, "doc_id", "text").collect()}
    assert got[1]["keep"] and got[1]["first_violation"] is None
    assert got[2]["first_violation"] == "too_short"
    assert got[3]["first_violation"] == "repetitive"
    assert got[4]["first_violation"] == "low_stopword"
    assert got[5]["first_violation"] == "too_short" and got[5]["n_tokens"] == 0
    assert got[6]["first_violation"] == "word_length"
    assert all(not got[k]["keep"] for k in (2, 3, 4, 5, 6))


def test_minhash_estimate_tracks_exact_jaccard(spark):
    # exact duplicates must show est == exact == 1.0, error 0; near-dups
    # must have error bounded well below 1 (16 components — coarse but
    # unbiased); and the exact column must equal brute-force Jaccard
    from etl_jetro_spark.plans.queries import q144_minhash_estimator_error

    import etl_jetro_spark.plans.queries as Q

    base = " ".join(f"w{i}" for i in range(30))
    docs = [
        (1, base),
        (2, base),                                  # exact dup of 1
        (3, base + " extra tail words here now"),   # near dup of 1
        (4, "completely different content " * 5),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    import tempfile, os
    with tempfile.TemporaryDirectory() as tmp:
        os.mkdir(f"{tmp}/x")
        df.write.mode("overwrite").parquet(f"{tmp}/x/documents.parquet")
        out = {(r["id_a"], r["id_b"]): r.asDict()
               for r in q144_minhash_estimator_error(spark, f"{tmp}/x").collect()}
    r = out[(1, 2)]
    assert r["est_jaccard"] == 1.0 and r["exact_jaccard"] == 1.0 and r["abs_error"] == 0.0
    if (1, 3) in out:
        r13 = out[(1, 3)]
        assert 0 < r13["exact_jaccard"] < 1
        assert r13["abs_error"] <= 0.5


def test_embedding_near_dup_bucket_cap_bounds_degenerate_block(spark):
    # 60 identical "boilerplate" vectors fill their band buckets past the
    # cap and their 60*59/2 pairs vanish; a genuine near-dup pair living
    # in a different region keeps all its (small) buckets and survives
    import math

    dims = 16
    boiler = [1.0] + [0.0] * (dims - 1)
    rows = [(i, boiler) for i in range(60)]
    v = [math.sin(i + 1) for i in range(dims)]
    v2 = [x + 1e-4 for x in v]
    rows += [(100, v), (101, v2)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    uncapped = embedding_near_dup(
        df, "vec_id", "embedding", dims=dims, threshold=0.99
    )
    capped = embedding_near_dup(
        df, "vec_id", "embedding", dims=dims, threshold=0.99, max_bucket_size=10
    )
    n_unc = uncapped.count()
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert n_unc >= 60 * 59 // 2  # boilerplate block dominates uncapped
    assert got == {(100, 101)}


def test_semantic_dedup_collapses_planted_cluster(spark):
    # three near-identical vectors (one cluster), one distinct vector;
    # the trio collapses to its min id, the loner keeps itself
    import math

    from etl_jetro_spark.operators.similarity import semantic_dedup

    dims = 8
    a = [math.cos(i) for i in range(dims)]
    far = [1.0 if i == 0 else 0.0 for i in range(dims)]
    rows = [
        (10, a),
        (11, [x * 1.001 for x in a]),   # same direction -> cosine 1
        (12, [x + 1e-5 for x in a]),
        (99, far),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(0, a), (1, far)], ["cid", "cv"]
    )
    got = {
        r["vec_id"]: (r["component"], r["kept"])
        for r in semantic_dedup(
            df, "vec_id", "embedding", cents, threshold=0.99
        ).collect()
    }
    assert got[10] == (10, True)
    assert got[11] == (10, False)
    assert got[12] == (10, False)
    assert got[99] == (99, True)

    # two-level coarse->fine assignment must reach the same dedup
    # verdicts: near-identical vectors follow the same (deterministic)
    # routing through the coarse cells, so planted dups still co-locate
    # even where the assignment disagrees with the flat argmax
    coarse = spark.createDataFrame(
        [(0, a), (1, far)], ["gid", "gv"]
    )
    got2 = {
        r["vec_id"]: (r["component"], r["kept"])
        for r in semantic_dedup(
            df, "vec_id", "embedding", cents, threshold=0.99,
            coarse=coarse, n_probe_cells=2,
        ).collect()
    }
    assert got2 == got


def test_ivf_assign_two_level_matches_flat_when_probing_all(spark):
    """With n_probe_cells >= the coarse-cell count, every fine centroid
    is reachable, so the two-level argmax must EQUAL the flat argmax
    (same ties->lowest-id rule) — the approximation comes only from
    pruning cells, never from the mechanics."""
    import math

    from etl_jetro_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_two_level,
    )

    dims = 6
    rows = [
        (i, [math.sin(0.7 * i + j) for j in range(dims)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(i, v) for i, v in rows[:9]], ["cid", "cv"]
    )
    coarse = spark.createDataFrame(
        [(i, v) for i, v in rows[:3]], ["gid", "gv"]
    )
    flat = {
        r["vec_id"]: r["cid"]
        for r in ivf_assign(df, "vec_id", "embedding", cents).collect()
    }
    tl = {
        r["vec_id"]: r["cid"]
        for r in ivf_assign_two_level(
            df, "vec_id", "embedding", cents, coarse, n_probe_cells=3
        ).collect()
    }
    assert tl == flat


def test_ivf_assign_two_level_keeps_stranded_vectors(spark):
    """One-row-per-vector contract (ADVICE r6): a vector whose probed
    coarse cell has ZERO fine members must not drop — it falls back to
    the flat argmax. Construction: every fine centroid routes to coarse
    cell g0 (they sit on +x), while the probe vector sits on -x so its
    single probed cell is g1 — memberless."""
    from etl_jetro_spark.operators.similarity import ivf_assign_two_level

    cents = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, [1.0, 0.2])], ["cid", "cv"]
    )
    coarse = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])], ["gid", "gv"]
    )
    df = spark.createDataFrame(
        [(10, [1.0, 0.15]), (11, [-1.0, 0.3])], ["vec_id", "embedding"]
    )
    out = ivf_assign_two_level(
        df, "vec_id", "embedding", cents, coarse, n_probe_cells=1
    ).collect()
    got = {r["vec_id"]: r["cid"] for r in out}
    assert len(out) == 2  # vec 11 previously dropped
    assert got[10] in (0, 1)
    # flat argmax for the stranded vector: cos([-1,.3],[1,.2]) beats
    # cos([-1,.3],[1,.1]) (less negative), so cid 1
    assert got[11] == 1


def test_plan_shapes_round4_fixes(spark):
    """Plan-level proofs for the round-4 scale fixes: (a) the capped
    winnow index runs its hot-set guard as a broadcast LEFT ANTI join,
    (b) chunk_tokens evaluates the tokenize regexes at ONE site (not per
    exploded chunk), (c) the embedding near-dup band self-join ships no
    vector payload — the vectors enter the plan only via the per-id
    fetch joins after pair dedup."""
    from etl_jetro_spark.operators.chunking import chunk_tokens
    from etl_jetro_spark.operators.dedup import winnow_overlap_pairs

    docs = spark.createDataFrame(
        [(i, f"some repeated text body number {i} with enough characters")
         for i in range(20)],
        ["doc_id", "text"],
    )

    # (a) capped_index -> BroadcastHashJoin ... LeftAnti in the plan
    p = winnow_overlap_pairs(
        docs, "doc_id", "text", min_shared=1, max_doc_freq=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in p and "Broadcast" in p

    # (b) tokenization evaluated once: norm_text has 2 regexp_replace
    # calls; the pre-fix plan showed 16
    p2 = chunk_tokens(docs, "doc_id", "text", chunk_size=5)._jdf.queryExecution(
    ).executedPlan().toString()
    assert p2.count("regexp_replace") <= 4, p2.count("regexp_replace")

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5, 0.25]) for i in range(30)],
        ["vec_id", "embedding"],
    )
    plan3 = embedding_near_dup(
        vecs, "vec_id", "embedding", dims=4
    )._jdf.queryExecution().optimizedPlan().toString()
    # the band-key join children must be (id, band) projections only —
    # no embedding/vector column rides the candidate join
    import re

    joins = plan3.split("Join Inner")
    band_side = [s for s in joins[1:] if "_band" in s.split("Project", 1)[0]]
    assert "_band = _band" in plan3 or "_band" in plan3
    # vectors appear in the plan exactly via the two per-id fetch joins
    # (alias _va/_vb), never together with _band in one projection row
    for line in plan3.splitlines():
        if "_band" in line and "Project" in line:
            assert "_va" not in line and "_vb" not in line and "_v#" not in line


def test_weighted_percentiles_brute_force_and_partition_invariance(spark):
    import random

    from etl_jetro_spark.operators.aggregate import weighted_group_percentiles

    rnd = random.Random(11)
    rows = [
        ("g", float(rnd.randrange(1, 50)), float(rnd.randrange(1, 10)), i)
        for i in range(2000)
    ]
    rows += [("g", 7.0, 0.0, 99991), ("g", None, 5.0, 99992)]  # excluded
    df = spark.createDataFrame(rows, "grp string, v double, w double, tb long")

    def brute(p):
        s = sorted((v, tb, w) for (_, v, w, tb) in rows if v is not None and w > 0)
        tot = sum(w for _, _, w in s)
        cw = 0.0
        for v, _, w in s:
            cw += w
            if cw >= p * tot:
                return v
        return None

    for nparts in (4, 64):
        got = weighted_group_percentiles(
            df, ["grp"], "v", "w", {"m": 0.5, "q9": 0.9},
            tiebreak=["tb"], num_range_partitions=nparts,
        ).collect()[0]
        assert got["m"] == brute(0.5), nparts
        assert got["q9"] == brute(0.9), nparts

    with pytest.raises(ValueError, match="outside"):
        weighted_group_percentiles(df, ["grp"], "v", "w", {"bad": 0.0})


def test_weighted_percentiles_heavy_weight_skew(spark):
    """ADVICE r5: a fixed 1e-9*total slack picks one row EARLY when one
    weight dwarfs the rest — weight 1e12 next to unit weights makes
    1e-9*total = 1000 >> the unit boundary gaps. The per-group
    min-weight bound (slack <= w_min/2 = 0.5) must keep the exact row:
    cumulative at v=2 is 1e12+1, p*total for p just above that boundary
    lands within the old slack but NOT the new one."""
    from etl_jetro_spark.operators.aggregate import weighted_group_percentiles

    rows = [("g", 1.0, 1e12, 0)] + [
        ("g", float(v), 1.0, v) for v in range(2, 202)
    ]
    df = spark.createDataFrame(rows, "grp string, v double, w double, tb long")
    tot = 1e12 + 200.0
    # cw at v=k (k>=2) is 1e12 + (k-1), all exactly representable.
    # p*tot = 1e12 + 148.6 -> exact answer is the first cw >= that:
    # v=150 (cw = 1e12+149). The old fixed slack 1e-9*tot ≈ 1000 turned
    # the threshold into ~1e12-851, which v=1 (cw=1e12) already clears —
    # 149 positions early. The min-weight bound caps slack at 0.5.
    p = (1e12 + 148.6) / tot
    got = weighted_group_percentiles(
        df, ["grp"], "v", "w", {"q": p}, tiebreak=["tb"],
        num_range_partitions=8,
    ).collect()[0]
    assert got["q"] == 150.0


def test_triangle_count_known_graphs(spark):
    from etl_jetro_spark.operators.graph import triangle_count

    def tri(edges):
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        return triangle_count(df).collect()[0]["n_triangles"]

    # K4: 4 triangles (duplicate + reversed edges must not inflate)
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (2, 1), (1, 2)]
    assert tri(k4) == 4
    # a path has none; a star has none
    assert tri([(1, 2), (2, 3), (3, 4)]) == 0
    assert tri([(0, i) for i in range(1, 9)]) == 0
    # two triangles sharing an edge
    assert tri([(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)]) == 2
    # hub wheel: center 0 + cycle 1-2-3-4-5-1 -> 5 triangles
    wheel = [(0, i) for i in range(1, 6)] + [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)]
    assert tri(wheel) == 5


def test_clustering_coefficients_known_graph(spark):
    from etl_jetro_spark.operators.graph import clustering_coefficients

    # triangle 1-2-3 plus pendant 3-4: c(1)=c(2)=1, c(3)=1/3, c(4)=0
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["id_a", "id_b"]
    )
    got = {r["id"]: r.asDict() for r in clustering_coefficients(df).collect()}
    assert got[1]["coeff"] == 1.0 and got[1]["n_triangles"] == 1
    assert got[2]["coeff"] == 1.0
    assert got[3]["degree"] == 3 and got[3]["coeff"] == pytest.approx(1 / 3)
    assert got[4]["coeff"] == 0.0 and got[4]["n_triangles"] == 0


def test_knn_join_blocked_equals_broadcast_form(spark):
    import math

    from etl_jetro_spark.operators.similarity import knn_join_blocked

    dims = 8
    rows = [
        (i, [math.sin(0.7 * i + d) for d in range(dims)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    probes = df.filter(F.col("vec_id") < 20)
    a = {
        (r["probe_id"], r["rank"]): (r["neighbor_id"], round(r["score"], 9))
        for r in knn_join(probes, df, "vec_id", "embedding", k=4).collect()
    }
    b = {
        (r["probe_id"], r["rank"]): (r["neighbor_id"], round(r["score"], 9))
        for r in knn_join_blocked(
            probes, df, "vec_id", "embedding", k=4, num_probe_blocks=5
        ).collect()
    }
    assert a == b and len(a) == 20 * 4


def test_quota_cap_exact_vs_plain_rank(spark):
    """quota_cap's prefilter+fallback must select EXACTLY the rows a
    plain per-key md5 rank would, including when the prefilter threshold
    is squeezed so the fallback path actually fires."""
    from pyspark.sql import Window

    from etl_jetro_spark.operators.sampling import quota_cap

    rows = [(i, f"k{i % 7}") for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "key"])

    h = F.md5(F.concat(F.lit("t:"), F.col("id").cast("string")))
    hf = F.conv(F.substring(h, 1, 15), 16, 10).cast("double") / float(1 << 60)
    w = Window.partitionBy("key").orderBy(hf, F.col("id"))
    want = {
        (r["id"], r["key"])
        for r in df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 5)
        .collect()
    }
    for slack in (4.0, 0.02):  # 0.02 -> threshold ~0, every key short-falls
        got = {
            (r["id"], r["key"])
            for r in quota_cap(
                df, "id", "key", cap=5, salt="t:", prefilter_slack=slack
            ).collect()
        }
        assert got == want, f"slack={slack}"
    # cap >= key size keeps everything
    assert quota_cap(df, "id", "key", cap=1000, salt="t:").count() == 500


def test_target_mix_resample_reaches_target_mix(spark):
    from etl_jetro_spark.operators.sampling import target_mix_resample

    rows = [(i, "a" if i < 4000 else ("b" if i < 5000 else "c"))
            for i in range(5500)]
    df = spark.createDataFrame(rows, ["id", "grp"])
    out = target_mix_resample(
        df, "id", "grp", {"a": 0.5, "b": 0.25, "c": 0.25}, salt="m:"
    )
    got = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # c (500 rows) is the most under-represented vs target 0.25 ->
    # keeps everything; a targets 2x c's mass, b 1x
    assert got["c"] == 500
    assert abs(got["a"] - 1000) < 60      # hash-rate tolerance
    assert abs(got["b"] - 500) < 40
    # downsample-only: no group exceeds its input
    assert got["b"] <= 1000 and got["a"] <= 4000
    # deterministic
    again = {r["grp"]: r["n"] for r in target_mix_resample(
        df, "id", "grp", {"a": 0.5, "b": 0.25, "c": 0.25}, salt="m:"
    ).groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == again

    with pytest.raises(ValueError, match="sum to 1"):
        target_mix_resample(df, "id", "grp", {"a": 0.5})

    # unlisted group dropped silently (documented); strict=True raises
    # when a positive-share target group has no input rows (ADVICE r5)
    dropped = target_mix_resample(
        df, "id", "grp", {"a": 0.5, "b": 0.5}, salt="m:"
    )
    assert dropped.filter(F.col("grp") == "c").count() == 0
    with pytest.raises(ValueError, match="unattainable.*'zz'"):
        target_mix_resample(
            df, "id", "grp", {"a": 0.5, "zz": 0.5}, salt="m:", strict=True
        )
    # strict passes when every positive-share group exists; zero-share
    # missing groups are fine
    assert target_mix_resample(
        df, "id", "grp", {"a": 0.5, "b": 0.5, "zz": 0.0},
        salt="m:", strict=True,
    ).count() > 0


def test_pagerank_star_and_invariants(spark):
    """On a star graph K1,n the closed form is known: the hub holds
    β·n/(n+1)·(leaf rank)... easier: check mass conservation, hub >
    leaf, and symmetry of equivalent leaves; plus the 2-node closed form
    rank = 1/2 each (symmetric graph, any damping)."""
    from etl_jetro_spark.operators.graph import pagerank

    # symmetric pair: exact fixed point 0.5/0.5 at every iteration
    two = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    r2 = {r["id"]: r["rank"] for r in pagerank(two, iterations=3).collect()}
    assert abs(r2[1] - 0.5) < 1e-12 and abs(r2[2] - 0.5) < 1e-12

    star = spark.createDataFrame([(0, i) for i in range(1, 9)], ["id_a", "id_b"])
    rs = {r["id"]: r["rank"] for r in pagerank(star, iterations=5).collect()}
    leaves = [rs[i] for i in range(1, 9)]
    assert abs(sum(rs.values()) - 1.0) < 1e-9          # mass conserved
    assert rs[0] > max(leaves)                          # hub dominates
    assert max(leaves) - min(leaves) < 1e-12            # leaf symmetry


@pytest.mark.parametrize("n", [1, 4, 9, 10, 11, 97, 1000])
@pytest.mark.parametrize("k", [5, 10])
def test_ntile_from_rank_matches_sql_ntile(spark, n, k):
    """The rank-frame ntile derivation (q92/q181/q195) must equal SQL
    ntile(k) for every size/tile combination, including n < k."""
    from pyspark.sql import Window

    from etl_jetro_spark.plans.queries import _ntile_from_rank

    df = spark.range(n).select(F.col("id"))
    w = Window.orderBy("id")
    want = df.select("id", F.ntile(k).over(w).cast("long").alias("t"))
    got = df.select(
        "id",
        _ntile_from_rank(
            F.row_number().over(w), F.lit(n).cast("long"), k
        ).alias("t"),
    )
    assert {(r["id"], r["t"]) for r in want.collect()} == {
        (r["id"], r["t"]) for r in got.collect()
    }


def test_knn_top1_exact_ties_and_payload(spark):
    """Panel-path 1-NN: identical vectors tie on cosine and must break to
    the SMALLEST neighbor id (the argmax-over-nid-sorted-rows contract);
    neighbor payload columns ride along."""
    from etl_jetro_spark.operators.similarity import knn_top1_exact

    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [1.0, 0.0], "b"),   # exact dup of 1 and 3
        (3, [1.0, 0.0], "c"),
        (4, [0.0, 1.0], "d"),   # orthogonal loner
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    nn = {
        r["vec_id"]: r
        for r in knn_top1_exact(df, payload=["label"]).collect()
    }
    assert nn[1]["nn_id"] == 2 and nn[1]["nn_label"] == "b"
    assert nn[2]["nn_id"] == 1 and nn[2]["nn_label"] == "a"
    assert nn[3]["nn_id"] == 1  # ties among {1,2} -> smallest id
    assert nn[4]["nn_id"] == 1 and abs(nn[4]["nn_score"]) < 1e-12
    assert abs(nn[1]["nn_score"] - 1.0) < 1e-12


def test_running_prefix_max_matches_sequential(spark):
    """The distributed two-pass sweep must equal the sequential running
    max, including across range-partition boundaries (many partitions
    forced over a small frame)."""
    import random

    from pyspark.sql import functions as F

    from etl_jetro_spark.operators.frontier import running_prefix_max

    rng = random.Random(7)
    vals = [rng.randrange(0, 1000) for _ in range(500)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "ord INT, v INT"
    )
    got = {
        r["ord"]: r["_runmax"]
        for r in running_prefix_max(df, "ord", "v", 16).collect()
    }
    run, expect = -1, {}
    for i, v in enumerate(vals):
        run = max(run, v)
        expect[i] = run
    assert got == expect
