"""Misra-Gries guarantees: presence of all true heavy hitters, never-
overestimate, and the merged error certificate — checked against exact
counts locally and distributed (and under different partitionings)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Row
from pyspark.sql import functions as F

from nosql_based_business_intelligence_system_spark.operators import heavyhitters as hh


def test_local_summary_guarantee():
    stream = ["a"] * 50 + ["b"] * 30 + ["c"] * 8 + [f"x{i}" for i in range(40)]
    n, k = len(stream), 4
    exact = Counter(stream)
    summ = hh.mg_summary(stream, k)
    assert len(summ) <= k
    for item, est in summ.items():
        assert est <= exact[item]
        assert exact[item] - est <= n / (k + 1)
    for item, true in exact.items():
        if true > n / (k + 1):
            assert item in summ


def _exact_token_counts(df):
    return (
        df.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )


def test_distributed_bounds_on_fixture(spark, sf_smoke):
    from nosql_based_business_intelligence_system_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    k = 16
    est = {r.item: r for r in hh.mg_heavy_hitters(toks, "tok", k).collect()}
    exact = {r.t: r.true_count for r in _exact_token_counts(docs).collect()}
    n = sum(exact.values())
    assert est  # fixture has dominant tokens
    for item, r in est.items():
        assert r.n_total == n
        assert r.est_count <= exact[item]
        assert exact[item] - r.est_count <= r.err_bound
    for item, true in exact.items():
        if true > n / (k + 1):
            assert item in est


def test_bounds_hold_under_repartitioning(spark):
    rows = [Row(tok=t) for t in (["hot"] * 400 + ["warm"] * 120 + [f"cold{i}" for i in range(300)])]
    df = spark.createDataFrame(rows)
    exact = Counter(t.tok for t in rows)
    n = len(rows)
    k = 8
    for parts in (1, 7):
        out = {
            r.item: r
            for r in hh.mg_heavy_hitters(df.repartition(parts), "tok", k).collect()
        }
        assert "hot" in out and "warm" in out
        for item, r in out.items():
            assert r.est_count <= exact[item]
            assert exact[item] - r.est_count <= r.err_bound


def test_targeted_exact_pass_matches_full_domain(spark, sf_correctness, monkeypatch):
    """The r9 scale lever — collect the <=k sketch survivors and run the
    exact pass as filter(IN survivors) -> groupBy — must emit EXACTLY the
    full-domain plan's certified rows: every truly heavy token is in the
    survivor set by the MG guarantee, so the map-side IN-list discards
    only tokens that could never certify."""
    from nosql_based_business_intelligence_system_spark.queries import text_suite

    full = {
        (r.item, r.exact_count, r.n_total)
        for r in text_suite.token_heavy_hitters(spark, sf_correctness).collect()
    }
    from nosql_based_business_intelligence_system_spark.operators import partitioning

    monkeypatch.setattr(partitioning, "LARGE_INPUT_BYTES", 0)
    # gate now active at fixture scale -> targeted path
    targeted = {
        (r.item, r.exact_count, r.n_total)
        for r in text_suite.token_heavy_hitters(spark, sf_correctness).collect()
    }
    assert targeted == full and full


def test_text_variant_matches_exploded_on_fixture(spark, sf_smoke):
    """mg_heavy_hitters_text (doc-level Arrow transfer, pyarrow-side
    tokenize) must satisfy the same bounds AND certify the same heavy set
    as the exploded-token path — the r11 physical rewrite is invariant at
    the certified-output level."""
    from nosql_based_business_intelligence_system_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    k = 16
    via_items = {r.item: r for r in hh.mg_heavy_hitters(toks, "tok", k).collect()}
    via_text = {
        r.item: r for r in hh.mg_heavy_hitters_text(docs, "text", k).collect()
    }
    exact = {r.t: r.true_count for r in _exact_token_counts(docs).collect()}
    n = sum(exact.values())
    assert via_text
    for item, r in via_text.items():
        assert r.n_total == n  # identical token accounting
        assert r.est_count <= exact[item]
        assert exact[item] - r.est_count <= r.err_bound
    # every certified-heavy token appears in BOTH sketches (the MG
    # guarantee is partitioning/tokenizer-path independent)
    for item, true in exact.items():
        if true > n / (k + 1):
            assert item in via_text and item in via_items


def test_text_variant_tokenizer_edge_parity(spark):
    """pyarrow split_pattern parity with F.split+drop-empties: runs of
    separators, leading/trailing separators, empty and NULL text."""
    rows = [
        Row(text="a  b"),          # double space -> empty token dropped
        Row(text=" a b "),         # leading/trailing
        Row(text=""),              # no tokens
        Row(text=None),            # no rows
        Row(text="a a a b"),
    ]
    docs = spark.createDataFrame(rows, "text string")
    got = {
        r.item: r.est_count
        for r in hh.mg_heavy_hitters_text(docs, "text", k=8).collect()
    }
    assert got == {"a": 5, "b": 3}
    n_total = hh.mg_heavy_hitters_text(docs, "text", k=8).collect()[0].n_total
    assert n_total == 8
