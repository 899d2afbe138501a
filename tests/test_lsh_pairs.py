"""Edge inputs for the LSH candidate-pair generator shared by MinHash
self-dedup, MinHash cross-corpus dedup and sign-LSH embedding dedup
(operators/dedup._lsh_candidate_pairs): empty input, singleton-only
buckets, one hot bucket against the disk guard and the bucket cap, a
bucket on one cross-corpus side only, and a repeated id."""

from __future__ import annotations

import pytest

from nosql_based_business_intelligence_system_spark.operators import dedup, similarity

TEXT = "doc_id long, text string"


def _text(label: int) -> str:
    # eight tokens no other label shares: distinct labels share no shingle
    return " ".join(f"w{label}t{j}" for j in range(8))


def _vec(label: int) -> list[float]:
    # basis vectors: distinct labels take distinct plane-sign rows
    v = [0.0] * 32
    v[label] = 1.0
    return v


def _minhash(spark, rows, **kw):
    df = spark.createDataFrame([(i, _text(lab)) for i, lab, _ in rows], TEXT)
    out = dedup.minhash_lsh_dupes(df, jaccard_threshold=0.5, **kw)
    return sorted((r.doc_a, r.doc_b) for r in out.collect())


def _minhash_cross(spark, rows, **kw):
    new, seen = (
        spark.createDataFrame(
            [(i, _text(lab)) for i, lab, s in rows if s == side], TEXT
        )
        for side in ("new", "seen")
    )
    out = dedup.minhash_cross_corpus_dupes(new, seen, jaccard_threshold=0.5, **kw)
    return sorted((r.new_doc, r.seen_doc) for r in out.collect())


def _embedding(spark, rows, **kw):
    df = spark.createDataFrame(
        [(i, _vec(lab)) for i, lab, _ in rows],
        "vec_id long, embedding array<double>",
    )
    out = similarity.embedding_cosine_dupes(
        df, threshold=0.9, n_planes=64, bands=4, **kw
    )
    return sorted((r.id_a, r.id_b) for r in out.collect())


def _guard(monkeypatch, budget: int) -> None:
    """Run the disk guard at unit scale (gate at 0 bytes of input) under
    a ``budget``-byte scratch budget."""
    monkeypatch.setattr(dedup, "PAIR_GUARD_MIN_BYTES", 0)
    monkeypatch.setenv("SPARK_GRAFT_PAIR_DISK_BUDGET", str(budget))


#: operator -> (runner, name of its bucket-cap argument = the guard's lever)
OPS = {
    "minhash": (_minhash, "max_docs_per_band_key"),
    "minhash_cross": (_minhash_cross, "max_docs_per_band_key"),
    "embedding": (_embedding, "max_ids_per_band_key"),
}


@pytest.mark.parametrize("op", OPS)
def test_empty_input_with_guard_gives_no_pairs(spark, op, monkeypatch):
    run, _ = OPS[op]
    _guard(monkeypatch, 0)
    assert run(spark, []) == []


@pytest.mark.parametrize("op", OPS)
def test_singleton_buckets_give_no_pairs(spark, op, monkeypatch):
    """Every bucket holds one id: nothing pairs, and nothing is priced —
    the guard passes a zero-byte budget."""
    run, _ = OPS[op]
    rows = [(i, i, ("new", "seen")[i % 2]) for i in range(8)]
    _guard(monkeypatch, 0)
    assert run(spark, rows) == []


@pytest.mark.parametrize("op", OPS)
def test_hot_bucket_fails_fast_and_cap_drops_it(spark, op, monkeypatch):
    """60 identical items fill one bucket per band: the guard raises under
    a 1 KB budget naming the cap, and a cap below the bucket size drops
    the bucket, so the same budget passes with no pairs."""
    run, lever = OPS[op]
    rows = [(i, 0, ("new", "seen")[i % 2]) for i in range(60)] + [
        (100 + i, 1 + i, "new") for i in range(4)
    ]
    _guard(monkeypatch, 1024)
    with pytest.raises(dedup.PairExplosionError, match=lever):
        run(spark, rows)
    assert run(spark, rows, **{lever: 10}) == []


def test_cross_bucket_on_one_side_gives_no_pairs(spark, monkeypatch):
    """Duplicates within one corpus share buckets on that side only: no
    cross pair, and the guard prices nothing."""
    rows = [(1, 0, "new"), (2, 0, "new"), (3, 1, "seen"), (4, 1, "seen")]
    _guard(monkeypatch, 0)
    assert _minhash_cross(spark, rows) == []


@pytest.mark.parametrize("op", ["minhash", "embedding"])
def test_repeated_id_never_pairs_with_itself(spark, op):
    """An id on two input rows is one side of each pair, once — never
    paired with itself."""
    run, _ = OPS[op]
    rows = [(1, 0, None), (1, 0, None), (2, 0, None), (3, 0, None)]
    assert run(spark, rows) == [(1, 2), (1, 3), (2, 3)]
