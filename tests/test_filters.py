"""Hand-computed cases for the curation-filter batteries
(operators/filters.py) and the exact-substring duplication profile
(dedup.substring_dup_stats)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from etl_io_spark.operators import dedup, filters
from tests.conftest import graph_path


def _by_id(rows):
    return {r[0]: r for r in rows}


# ------------------------------------------------------------------ C4
def test_c4_filters_hand_case(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="A clean page. It has sentences! Three?"),
            Row(doc_id=2, text="code { return 1; } more text. Yes. No. Ok."),
            Row(doc_id=3, text="Lorem Ipsum dolor sit. Amet. Consectetur."),
            Row(doc_id=4, text="enable javascript to view. This page. Now."),
            Row(doc_id=5, text="too few sentences here"),
            Row(doc_id=6, text="javascripty tokens do not count. A. B. C."),
        ]
    )
    out = _by_id(filters.c4_filters(docs, "doc_id", "text").collect())
    assert out[1]["keep"] and out[1]["n_sentences"] == 3
    assert out[2]["has_curly"] and not out[2]["keep"]
    assert out[3]["has_lorem"] and not out[3]["keep"]
    assert out[4]["has_javascript"] and not out[4]["keep"]
    assert out[5]["n_sentences"] == 0 and not out[5]["keep"]
    # substring-of-identifier must NOT trip the token probe
    assert not out[6]["has_javascript"] and out[6]["keep"]


# -------------------------------------------------------------- Gopher
def test_gopher_rules_hand_case(spark):
    good = " ".join(
        ["the", "be", "to", "of"] + [f"word{i}" for i in range(46)]
    )  # 50 words, all alphabetic, mean len ~5, no symbols
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=good),
            Row(doc_id=2, text="short text the be"),  # fails word count
            Row(doc_id=3, text=good + " " + "#" * 1),  # one '#': 51 words
        ]
    )
    out = _by_id(filters.gopher_rules(docs, "doc_id", "text").collect())
    r1 = out[1]
    assert r1["n_words"] == 50
    assert r1["ok_words"] and r1["ok_word_len"] and r1["ok_symbols"]
    assert r1["ok_alpha"] and r1["ok_stopwords"] and r1["keep"]
    assert not out[2]["ok_words"] and not out[2]["keep"]
    # '#' is its own token: 1 symbol / 51 words ≈ 0.0196 ≤ 0.1 → passes
    # symbols but the '#' token has no alphabetic char: alpha 50/51 ≥ 0.8
    assert out[3]["ok_symbols"] and out[3]["ok_alpha"]


def test_gopher_mean_word_len_exact(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="ab abcd")])
    out = filters.gopher_rules(docs, "doc_id", "text").collect()[0]
    assert out["mean_word_len"] == 3.0


# ---------------------------------------------------------- classifier
def test_quality_classifier_zero_tokens_and_bounds(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="   "), Row(doc_id=2, text="alpha beta gamma")]
    )
    out = _by_id(
        filters.quality_classifier(docs, "doc_id", "text").collect()
    )
    assert out[1]["n_tokens"] == 0 and out[1]["score"] == 0.5
    assert out[1]["label"]  # sigmoid(0) = 0.5 >= 0.5
    r = out[2]
    assert r["n_tokens"] == 3
    assert -1.0 <= r["logit"] <= 1.0
    assert abs(r["score"] - 1 / (1 + math.exp(-r["logit"]))) < 1e-4
    assert r["label"] == (r["score"] >= 0.5)


def test_quality_classifier_is_deterministic(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="x y z x")])
    a = filters.quality_classifier(docs, "doc_id", "text").collect()
    b = filters.quality_classifier(docs, "doc_id", "text").collect()
    assert a == b


# ------------------------------------------------------ substring dedup
def test_substring_dup_stats_hand_case(spark):
    # k=3 windows; doc1 and doc2 share "a b c"; doc3 repeats its own window
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d"),  # windows: "a b c", "b c d"
            Row(doc_id=2, text="a b c"),  # window:  "a b c"
            Row(doc_id=3, text="x y x y x y x"),  # "x y x" appears 3x ...
            Row(doc_id=4, text="q r"),  # too short: 0 windows
        ]
    )
    out = _by_id(
        dedup.substring_dup_stats(docs, "doc_id", "text", k=3).collect()
    )
    assert out[1]["n_windows"] == 2 and out[1]["n_dup_windows"] == 1
    assert out[1]["dup_fraction"] == 0.5
    assert out[1]["dup_fraction_ppm"] == 500_000
    assert out[2]["n_windows"] == 1 and out[2]["n_dup_windows"] == 1
    # doc3 windows: x y x | y x y | x y x | y x y | x y x → all dup
    assert out[3]["n_windows"] == 5 and out[3]["n_dup_windows"] == 5
    assert out[4]["n_windows"] == 0 and out[4]["dup_fraction"] == 0.0


# ------------------------------------------------------------- bloom gate
def test_bloom_gate_no_false_negatives(spark):
    build = spark.createDataFrame([Row(k=i) for i in range(50)])
    probe = spark.createDataFrame([Row(p=i) for i in range(200)])
    out = {
        r["p"]: r["maybe_member"]
        for r in dedup.bloom_gate(
            build, probe, "k", "p", m_bits=256, k=2
        ).collect()
    }
    # Bloom's one-sided guarantee: every true member flagged
    assert all(out[i] for i in range(50))
    # and the filter actually rejects most non-members at this sizing
    rejected = sum(1 for i in range(50, 200) if not out[i])
    assert rejected > 100


def test_bloom_gate_duplicate_probe_rows(spark):
    build = spark.createDataFrame([Row(k=1)])
    probe = spark.createDataFrame([Row(p=1), Row(p=1), Row(p=2)])
    out = {
        r["p"]: r["maybe_member"]
        for r in dedup.bloom_gate(
            build, probe, "k", "p", m_bits=256, k=4
        ).collect()
    }
    assert out[1] is True  # duplicates must not break the all-k test
    assert len(out) == 2


# ------------------------------------------------------------------ RAKE
def test_rake_keywords_hand_case(spark):
    from etl_io_spark.operators import text as txt

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="deep learning of deep networks"),
            Row(doc_id=2, text="deep learning is great"),
        ]
    )
    out = {
        r["phrase"]: r
        for r in txt.rake_keywords(docs, "doc_id", "text", top_k=10).collect()
    }
    # "deep learning" occurs twice (docs 1 and 2); "of"/"is" split phrases
    assert out["deep learning"]["n_occurrences"] == 2
    # deg(deep)=2+2+2? doc1: phrases [deep learning], [deep networks] ->
    # deep in two length-2 phrases + doc2 [deep learning]: deg=6, freq=3
    # -> ws=2000; learning: deg=4 freq=2 -> 2000; networks: deg=2 freq=1
    # -> 2000; great: deg=1 freq=1 -> 1000
    assert out["deep learning"]["score"] == 4.0
    assert out["deep networks"]["score"] == 4.0
    assert out["great"]["score"] == 1.0


# ------------------------------------------------------------ count-min
def test_countmin_never_undercounts(spark):
    from etl_io_spark.operators import aggregate as agg

    rows = [Row(k="hot")] * 40 + [Row(k=f"u{i}") for i in range(30)]
    df = spark.createDataFrame(rows)
    out = {
        r["k"]: r
        for r in agg.countmin_compare(
            df, "k", depth=4, width=64, top_k=5
        ).collect()
    }
    assert out["hot"]["exact_n"] == 40
    for r in out.values():
        assert r["cm_estimate"] >= r["exact_n"]  # one-sided error
        assert r["overcount"] == r["cm_estimate"] - r["exact_n"]


# ----------------------------------------------------- power iteration
def test_power_iteration_matches_numpy(spark):
    import numpy as np

    from etl_io_spark.operators import similarity as sim

    rng = [[float((i * 7 + j * 3) % 5) + (1.0 if j == 0 else 0.0)
            for j in range(4)] for i in range(12)]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(rng)]
    )
    out = {
        r["dim"]: r["loading"]
        for r in sim.power_iteration_top_pc(
            df, iterations=8
        ).collect()
    }
    X = np.array(rng)
    G = X.T @ X
    v = np.ones(4)
    for _ in range(8):
        v = G @ v
    v = v / v[int(np.argmax(np.abs(v)))]
    for d in range(4):
        assert abs(out[d] - round(v[d], 6)) <= 2e-6


# ------------------------------------------------------ perceptual hash
def test_perceptual_hash_identical_payloads_collide(spark):
    from etl_io_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="same words here"),
            Row(doc_id=16, text="same words here"),  # same width/height mod
            Row(doc_id=32, text="different content entirely"),
        ]
    )
    media = mm.synthesize_media(docs)
    out = {r["media_id"]: r["phash"] for r in mm.perceptual_hash(media).collect()}
    assert out[0] == out[16]
    assert out[0] != out[32]
    # deterministic across runs
    again = {r["media_id"]: r["phash"] for r in mm.perceptual_hash(media).collect()}
    assert out == again


# ------------------------------------------------------------------ HITS
def test_hits_bipartite_hand_case(spark):
    from etl_io_spark.operators import graph

    # c1 buys from s1, s2; c2 buys from s2 only → s2 is the authority
    edges = spark.createDataFrame(
        [Row(src=10, dst=21), Row(src=10, dst=23), Row(src=12, dst=23)]
    )
    for solver in (True, False):
        with graph_path(solver):
            out = {
                r["node"]: r for r in graph.hits(edges, iterations=2).collect()
            }
        # iteration math (exact ints): a1(s21)=1, a1(s23)=2;
        # h1(c10)=3, h1(c12)=2; a2(21)=3, a2(23)=5; h2(10)=8, h2(12)=5
        assert out[21]["auth"] == 3 and out[23]["auth"] == 5
        assert out[10]["hub"] == 8 and out[12]["hub"] == 5
        assert out[23]["auth_norm"] == 1.0 and out[10]["hub_norm"] == 1.0
        # exact-integer ppm twins: floor(score*1e6/max)
        assert out[23]["auth_norm_ppm"] == 1_000_000
        assert out[21]["auth_norm_ppm"] == 600_000  # 3*1e6 // 5
        assert out[12]["hub_norm_ppm"] == 625_000  # 5*1e6 // 8
    # no iteration leaves no score table on either path
    with pytest.raises(ValueError):
        graph.hits(edges, iterations=0)


def test_ppm_floor_overflow_safe(spark):
    from etl_io_spark.functions.numeric import ppm_floor

    # real HITS scores pass 9e12, where naive num*1e6 wraps int64 —
    # the staged form must stay exact right up to den ~9.2e15
    cases = [
        (9_506_464_709_270, 9_506_464_709_270),
        (8_940_442_123_456, 9_506_464_709_270),
        (9_200_000_000_000_000, 9_223_000_000_000_000),
        (1, 9_223_000_000_000_000),
        (0, 7),
        (123_456_789, 987_654_321),
    ]
    df = spark.createDataFrame(
        [Row(n=n, d=d) for n, d in cases]
    ).select("n", "d", ppm_floor("n", "d").alias("ppm"))
    for r in df.collect():
        assert r["ppm"] == (r["n"] * 1_000_000) // r["d"]


def test_ppm_floor_quotes_identifiers_and_widens_int(spark):
    """ADVICE r5 hardening: bare identifiers are backtick-quoted (names
    that are also SQL keywords must work) and 32-bit inputs are widened
    to BIGINT before the staged *1000 products (an INT den near 2^31
    would otherwise overflow the intermediate)."""
    from pyspark.sql import functions as F

    from etl_io_spark.functions.numeric import ppm_floor

    # 'order' is a SQL keyword — unquoted interpolation fails to parse
    df = spark.createDataFrame(
        [(7, 9)], "order int, div int"  # both names need quoting; INT type
    ).select(ppm_floor("order", "div").alias("ppm"))
    assert df.collect()[0]["ppm"] == 7 * 1_000_000 // 9
    # INT inputs near 2^31: n % d * 1000 would overflow 32-bit arithmetic
    big = 2_000_000_000  # fits INT, big*1000 does not
    df2 = spark.createDataFrame(
        [(big - 3, big)], "n int, d int"
    ).select(ppm_floor("n", "d").alias("ppm"))
    assert df2.collect()[0]["ppm"] == (big - 3) * 1_000_000 // big
    # expressions (anything non-identifier) still pass through verbatim
    df3 = spark.createDataFrame([(5, 8)], "n long, d long").select(
        ppm_floor("n + 1", "d").alias("ppm")
    )
    assert df3.collect()[0]["ppm"] == 6 * 1_000_000 // 8


# ---------------------------------------------------------- basket rules
def test_basket_rules_hand_case(spark):
    from etl_io_spark.operators import aggregate as agg

    rows = [
        Row(b=1, i="x"), Row(b=1, i="y"),
        Row(b=2, i="x"), Row(b=2, i="y"),
        Row(b=3, i="x"),
        Row(b=4, i="z"),
    ]
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in agg.basket_rules(
            spark.createDataFrame(rows), "b", "i", min_count=2, k=10
        ).collect()
    }
    # n_xy=2, n_x=3, n_y=2, N=4
    r = out[("y", "x")]
    assert r["n_baskets"] == 2 and r["confidence"] == 1.0
    assert abs(r["lift"] - 4 * 2 / (2 * 3)) < 2e-6
    r2 = out[("x", "y")]
    assert abs(r2["confidence"] - 2 / 3) < 2e-6


# ------------------------------------------------------- session matrix
def test_session_entry_exit_hand_case(spark):
    import datetime as dt

    from etl_io_spark.operators import window as win

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ev(i, u, minutes, typ):
        return Row(
            event_id=i, user_id=u, ts=t0 + dt.timedelta(minutes=minutes),
            event_type=typ,
        )

    rows = [
        ev(1, 1, 0, "view"), ev(2, 1, 5, "click"),  # session 1: view→click
        ev(3, 1, 60, "purchase"),                   # session 2: bounce
        ev(4, 2, 0, "view"),                        # session 1: bounce
    ]
    out = {
        (r["entry_type"], r["exit_type"]): r
        for r in win.session_entry_exit(
            spark.createDataFrame(rows), "user_id", "ts", "event_type",
            "event_id",
        ).collect()
    }
    assert out[("view", "click")]["n_sessions"] == 1
    assert out[("view", "click")]["n_bounces"] == 0
    assert out[("purchase", "purchase")]["n_bounces"] == 1
    assert out[("view", "view")]["n_bounces"] == 1
    assert abs(out[("view", "view")]["bounce_rate"] - 1.0) < 1e-9


# -------------------------------------------------------- temporal join
def test_temporal_join_picks_valid_version(spark):
    import datetime as dt

    from etl_io_spark.operators import scd

    d = dt.datetime
    dim = spark.createDataFrame(
        [
            Row(k=1, seg="v1", valid_from=d(2020, 1, 1), valid_to=d(2022, 1, 1)),
            Row(k=1, seg="v2", valid_from=d(2022, 1, 1), valid_to=d(9999, 1, 1)),
        ]
    )
    fact = spark.createDataFrame(
        [
            Row(k=1, ts=d(2021, 6, 1), v=10.0),
            Row(k=1, ts=d(2022, 1, 1), v=20.0),  # boundary: inclusive from
            Row(k=2, ts=d(2021, 1, 1), v=30.0),  # no dim row
        ]
    )
    inner = scd.temporal_join(fact, dim, "k", "ts").collect()
    got = {(r["ts"].year, r["seg"]) for r in inner}
    assert got == {(2021, "v1"), (2022, "v2")}
    left = scd.temporal_join(fact, dim, "k", "ts", how="left").collect()
    assert len(left) == 3
    assert any(r["seg"] is None for r in left)


def test_temporal_join_null_valid_to_is_open(spark):
    # scd2_merge emits the CURRENT version with valid_to=NULL — facts in
    # that interval must match (ADVICE r4: bare ts < NULL dropped them)
    import datetime as dt

    from etl_io_spark.operators import scd

    d = dt.datetime
    dim = spark.createDataFrame(
        [
            Row(k=1, seg="old", valid_from=d(2020, 1, 1), valid_to=d(2022, 1, 1)),
            Row(k=1, seg="cur", valid_from=d(2022, 1, 1), valid_to=None),
        ]
    )
    fact = spark.createDataFrame([Row(k=1, ts=d(2023, 6, 1), v=1.0)])
    inner = scd.temporal_join(fact, dim, "k", "ts").collect()
    assert len(inner) == 1 and inner[0]["seg"] == "cur"


# -------------------------------------------------- quantile normalize
def test_quantile_normalize_aligns_marginals(spark):
    from etl_io_spark.operators import aggregate as agg

    rows = [Row(id=i, g="a", v=float(i)) for i in range(10)] + [
        Row(id=100 + i, g="b", v=float(1000 + i * 7)) for i in range(10)
    ]
    out = agg.quantile_normalize(
        spark.createDataFrame(rows), "g", "v", "id"
    ).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["g"], []).append(r["normalized_value"])
    # equal group sizes + shared global grid → identical sorted marginals
    assert sorted(by_group["a"]) == sorted(by_group["b"])
    # rank order preserved within each group
    a = sorted((r for r in out if r["g"] == "a"), key=lambda r: r["v"])
    assert [r["normalized_value"] for r in a] == sorted(
        r["normalized_value"] for r in a
    )


def test_quantile_normalize_shuffle_fallback_matches_broadcast(spark, tmp_path):
    """With broadcast disabled the global rank-join loses its hint and
    shuffles; the rows stay identical. The input goes through parquet so
    its leaf stats are known and the default run takes the hint."""
    from etl_io_spark.operators import aggregate as agg

    rows = [Row(id=i, g="a", v=float(i * 3 % 7)) for i in range(12)] + [
        Row(id=50 + i, g="b", v=float(i)) for i in range(8)
    ]
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "qn"))
    df = spark.read.parquet(str(tmp_path / "qn"))
    def hints(out):
        plan = out._jdf.queryExecution().analyzed().toString()
        return plan.count("ResolvedHint (strategy=broadcast)")

    on = agg.quantile_normalize(df, "g", "v", "id")
    bc = sorted(map(tuple, on.collect()))
    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        off = agg.quantile_normalize(df, "g", "v", "id")
        sh = sorted(map(tuple, off.collect()))
    finally:
        spark.conf.set(key, orig)
    assert bc == sh
    # the one-row N keeps its bare hint; the global table loses its own
    assert hints(on) == hints(off) + 1


def test_perceptual_hash_rejects_over_64_bits(spark):
    import pytest

    from etl_io_spark.operators import multimodal as mm

    media = spark.createDataFrame(
        [Row(media_id=1, data=bytearray(b"xy"), width=4, height=4)]
    )
    with pytest.raises(ValueError, match="<= 64"):
        mm.perceptual_hash(media, hash_w=9, hash_h=9)
