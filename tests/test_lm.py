"""Bigram-LM scoring invariants: hand-computed add-one probabilities on a
tiny corpus, plus the ranking property the perplexity filter relies on
(common-bigram docs score lower than rare-bigram docs)."""

from __future__ import annotations

import math

from pyspark.sql import Row

from nosql_based_business_intelligence_system_spark.operators import lm

# corpus: uni counts a:4 b:2 c:1 -> V=3; bigram counts (a,b):2 (a,c):1
DOCS = [
    Row(doc_id=1, text="a b"),
    Row(doc_id=2, text="a b"),
    Row(doc_id=3, text="a c"),
    Row(doc_id=4, text="a"),    # single token: no bigrams
    Row(doc_id=5, text=""),     # empty
]


def _scores(spark):
    return {r.doc_id: r for r in lm.doc_lm_scores(spark.createDataFrame(DOCS)).collect()}


def test_hand_computed_bigram_probabilities(spark):
    out = _scores(spark)
    # d1: p(b|a) = (2+1)/(4+3) = 3/7
    ce1 = round(-math.log((2 + 1) / (4 + 3)), 6)
    assert out[1].cross_entropy == ce1
    assert out[1].perplexity == round(math.exp(ce1), 6)
    assert out[1].n_bigrams == 1
    # d3: p(c|a) = (1+1)/(4+3) = 2/7
    ce3 = round(-math.log((1 + 1) / (4 + 3)), 6)
    assert out[3].cross_entropy == ce3
    # identical docs score identically
    assert out[2].cross_entropy == out[1].cross_entropy


def test_short_docs_carry_null_scores(spark):
    out = _scores(spark)
    for d in (4, 5):
        assert out[d].n_bigrams == 0
        assert out[d].cross_entropy is None and out[d].perplexity is None


def test_common_bigrams_score_lower_than_rare(spark):
    out = _scores(spark)
    assert out[1].cross_entropy < out[3].cross_entropy


def test_ckpt_actual_bytes_reads_this_rdds_blocks(spark):
    """The per-RDD block read gives the same bytes as walking every RDD's
    storage info, with other checkpoints live, and None for a frame that
    is not a checkpoint."""
    others = [
        spark.range(1000 * i).localCheckpoint(eager=True) for i in (1, 2, 3)
    ]
    ckpt = spark.range(20_000).selectExpr("id", "id * 2 AS x").localCheckpoint(
        eager=True
    )
    rid = ckpt._jdf.queryExecution().analyzed().rdd().id()
    walk = [
        int(info.memSize()) + int(info.diskSize())
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.id() == rid
    ]
    assert walk and walk[0] > 0
    assert lm.ckpt_actual_bytes(ckpt) == walk[0]
    assert lm.ckpt_actual_bytes(spark.range(10)) is None
    assert all(lm.ckpt_actual_bytes(o) is not None for o in others)
