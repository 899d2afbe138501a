"""Scale levers picked inside the operators from the input's plan size
estimate (operators/partitioning.plan_bytes, no job): every pair generator
runs its disk guard once its input reaches dedup.PAIR_GUARD_MIN_BYTES,
and the sf0.01/sf0.1 fixtures sit below both size gates."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from nosql_based_business_intelligence_system_spark.operators import (
    dedup,
    entity,
    partitioning,
    similarity,
)
from nosql_based_business_intelligence_system_spark.queries.text_suite import (
    SEEN_SOURCES,
)
from nosql_based_business_intelligence_system_spark.sources.tables import load_table


def _split(docs):
    """(new, seen) — the registry's cross-corpus split."""
    seen = F.col("source").isin(*SEEN_SOURCES)
    return docs.filter(~seen), docs.filter(seen)


#: pair generator -> (input table, lever its guard names, operator call)
PAIR_OPS = {
    "shingle_doc_pairs": (
        "documents", "max_docs_per_shingle", dedup.shingle_doc_pairs,
    ),
    "ngram_jaccard_dupes": (
        "documents", "max_docs_per_shingle", dedup.ngram_jaccard_dupes,
    ),
    "cross_corpus_dupes": (
        "documents",
        "minhash_cross_corpus_dupes(max_docs_per_band_key=...)",
        lambda d: dedup.cross_corpus_dupes(*_split(d)),
    ),
    "minhash_lsh_dupes": (
        "documents", "max_docs_per_band_key", dedup.minhash_lsh_dupes,
    ),
    "minhash_cross_corpus_dupes": (
        "documents",
        "max_docs_per_band_key",
        lambda d: dedup.minhash_cross_corpus_dupes(*_split(d)),
    ),
    "simhash_dupes": (
        "documents",
        "band-key bucket cap",
        lambda d: dedup.simhash_dupes(d, max_hamming=3),
    ),
    # 16 planes in 4 bands: coarse buckets, so the near-orthogonal
    # fixture vectors still pair
    "embedding_cosine_dupes": (
        "embeddings",
        "max_ids_per_band_key",
        lambda e: similarity.embedding_cosine_dupes(
            e, threshold=0.3, n_planes=16, bands=4
        ),
    ),
    "fuzzy_name_pairs": (
        "part",
        "max_names_per_block",
        lambda p: entity.fuzzy_name_pairs(p, "p_name", "p_partkey", 3),
    ),
    "resolve_entities": (
        "part",
        "max_names_per_block",
        lambda p: entity.resolve_entities(p, "p_name", "p_partkey", 3),
    ),
}


@pytest.mark.parametrize("op", PAIR_OPS)
def test_guard_on_fails_fast_naming_lever(spark, sf_correctness, monkeypatch, op):
    """With the gate at 0 bytes every generator prices its pairs before
    the pair stage and, under a 1-byte budget, raises naming its lever."""
    table, lever, call = PAIR_OPS[op]
    df = load_table(spark, sf_correctness, table)
    monkeypatch.setattr(dedup, "PAIR_GUARD_MIN_BYTES", 0)
    monkeypatch.setenv("SPARK_GRAFT_PAIR_DISK_BUDGET", "1")
    with pytest.raises(dedup.PairExplosionError, match=re.escape(lever)):
        call(df).count()


@pytest.mark.parametrize("op", PAIR_OPS)
def test_guard_off_below_gate_on_fixture(spark, sf_correctness, monkeypatch, op):
    """At the default gate the sf0.01 inputs keep the guard off: a
    zero-byte budget would fail any priced pair, yet rows come back."""
    table, _, call = PAIR_OPS[op]
    monkeypatch.setenv("SPARK_GRAFT_PAIR_DISK_BUDGET", "0")
    assert call(load_table(spark, sf_correctness, table)).count() > 0


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_fixture_estimates_sit_below_both_gates(spark, sf_correctness, sf):
    """Every registry pair query's input frame (and the heavy-hitter and
    ANN inputs) estimates below both size gates at sf0.01 and sf0.1, so
    the fixtures keep the small-scale plans; a fixture change that flips
    a gate fails here first."""
    sf_dir = sf_correctness.replace("sf0.01", sf)
    assert dedup.PAIR_GUARD_MIN_BYTES < partitioning.LARGE_INPUT_BYTES
    docs = load_table(spark, sf_dir, "documents")
    frames = {
        "documents": docs,
        "part": load_table(spark, sf_dir, "part"),
        "embeddings": load_table(spark, sf_dir, "embeddings"),
    }
    frames["documents new"], frames["documents seen"] = _split(docs)
    for name, df in frames.items():
        est = partitioning.plan_bytes(df)
        assert 0 < est < dedup.PAIR_GUARD_MIN_BYTES, (sf, name, est)
