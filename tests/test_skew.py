"""Skew ENGAGEMENT tests: the guards exist structurally (test_scale.py
asserts salted-join correctness and hot-key detection) — these tests feed
deliberately hostile data and assert the guards actually fire: candidate
volume collapses when the guard is on, recall survives, and AQE's skew
split shows up in the adaptive plan of a 90%-single-key sort-merge join.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import Row
from pyspark.sql import functions as F

from nosql_based_business_intelligence_system_spark.operators import dedup
from nosql_based_business_intelligence_system_spark.operators.entity import (
    fuzzy_name_pairs,
)


def _stopword_corpus(spark, n_docs: int = 120):
    """Every doc ends with the same 3-gram ('terms and conditions') — one
    degenerate shingle shared corpus-wide — while bodies are per-doc
    unique, except two planted near-duplicates that share a long unique
    body (their shared shingles have df=2, so a df cap never drops them).
    """
    docs = [
        Row(
            doc_id=i,
            text=(
                f"alpha{i} bravo{i} charlie{i} delta{i} echo{i} foxtrot{i} "
                f"golf{i} hotel{i} india{i} juliet{i} terms and conditions"
            ),
        )
        for i in range(n_docs)
    ]
    base = (
        "planted alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november"
    )
    docs.append(Row(doc_id=9001, text=f"{base} tokenA terms and conditions"))
    docs.append(Row(doc_id=9002, text=f"{base} tokenB terms and conditions"))
    return spark.createDataFrame(docs)


def test_shingle_guard_collapses_stopword_candidates(spark):
    corpus = _stopword_corpus(spark)
    n = corpus.count()
    # unguarded: the shared 'terms and conditions' shingle keys an all-pairs
    # join — candidate count is quadratic in the corpus
    unguarded = dedup.shingle_doc_pairs(corpus, max_docs_per_shingle=None).count()
    assert unguarded >= n * (n - 1) / 2, "fixture failed to create the hot shingle"
    # guarded: the hot shingle is dropped before the join; candidates fall to
    # pairs sharing a NON-degenerate shingle (the planted dup + the shared base)
    guarded_pairs = dedup.shingle_doc_pairs(corpus, max_docs_per_shingle=5)
    guarded = guarded_pairs.count()
    assert guarded < unguarded / 10, (unguarded, guarded)
    # recall: the planted near-dup must still surface, with high jaccard
    planted = guarded_pairs.filter(
        (F.col("doc_a") == 9001) & (F.col("doc_b") == 9002)
    ).collect()
    assert planted and planted[0].jaccard > 0.5


def test_entity_block_cap_drops_stopword_block_only(spark):
    # single shared last token 'inc' puts every name in one last_token
    # block; distinct first tokens keep the other passes cold
    rows = [Row(entity_id=i, name=f"unique{i:04d} inc") for i in range(300)]
    # planted typo pair sharing a first token
    rows.append(Row(entity_id=9001, name="acmecorp inc"))
    rows.append(Row(entity_id=9002, name="acmecorq inc"))
    df = spark.createDataFrame(rows)
    unguarded = fuzzy_name_pairs(
        df, "name", "entity_id", max_distance=2, max_names_per_block=None
    ).count()
    guarded_pairs = fuzzy_name_pairs(
        df, "name", "entity_id", max_distance=2, max_names_per_block=50
    )
    guarded = guarded_pairs.count()
    # the planted pair survives: its prefix4 ('acme') block is tiny even
    # though the shared 'inc' block was dropped
    assert guarded_pairs.filter(
        (F.col("name_a") == "acmecorp inc") & (F.col("name_b") == "acmecorq inc")
    ).count() == 1
    # verified pairs were already levenshtein-filtered, so compare the
    # POST-verify volume: the stopword block emits unique{a}/unique{b}
    # pairs at distance <= 2 that the cap must remove
    assert guarded < unguarded, (unguarded, guarded)


@contextlib.contextmanager
def _conf(spark, **kv):
    old = {}
    for k, v in kv.items():
        key = k.replace("__", ".")
        old[key] = spark.conf.get(key, None)
        spark.conf.set(key, v)
    try:
        yield
    finally:
        for key, v in old.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)


def test_aqe_skew_join_splits_hot_partition(spark):
    """90%-single-key probe side against a non-broadcastable build side:
    with thresholds scaled to the fixture, AQE must mark the sort-merge
    join's hot partition as skewed (plan shows the skew annotation) —
    the runtime half of the skew story, complementing the salting
    operator (operators/skew.py) for when keys are not KNOWN hot."""
    import hashlib

    # incompressible payloads: the skew threshold applies to COMPRESSED
    # shuffle bytes, and a repeated-constant string deflates to ~nothing
    left = spark.createDataFrame(
        [
            Row(k=7, v=hashlib.md5(str(i).encode()).hexdigest() * 3)
            for i in range(60_000)
        ]
        + [Row(k=i % 40, v="y") for i in range(6_000)]
    )
    right = spark.createDataFrame(
        [Row(k=i, w="z" * 32) for i in range(40)]
    )
    with _conf(
        spark,
        **{
            "spark__sql__autoBroadcastJoinThreshold": "-1",
            "spark__sql__adaptive__skewJoin__skewedPartitionFactor": "2",
            "spark__sql__adaptive__skewJoin__skewedPartitionThresholdInBytes": "64KB",
            "spark__sql__adaptive__advisoryPartitionSizeInBytes": "64KB",
            "spark__sql__adaptive__coalescePartitions__minPartitionSize": "16KB",
        },
    ):
        j = left.join(right, "k")
        # execute THIS dataset (count() would plan a different query and
        # leave j's adaptive plan unfinalized)
        assert len(j.collect()) == 66_000
        plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan


def test_aqe_skew_join_disengaged_on_uniform_data(spark):
    """Control: uniform keys under the same scaled thresholds must NOT
    trigger the skew split — the guard engages on skew, not always."""
    left = spark.createDataFrame(
        [Row(k=i % 40, v="y" * 64) for i in range(66_000)]
    )
    right = spark.createDataFrame([Row(k=i, w="z" * 32) for i in range(40)])
    with _conf(
        spark,
        **{
            "spark__sql__autoBroadcastJoinThreshold": "-1",
            "spark__sql__adaptive__skewJoin__skewedPartitionFactor": "2",
            "spark__sql__adaptive__skewJoin__skewedPartitionThresholdInBytes": "64KB",
            "spark__sql__adaptive__advisoryPartitionSizeInBytes": "64KB",
        },
    ):
        j = left.join(right, "k")
        assert len(j.collect()) == 66_000
        plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" not in plan, plan


def test_minhash_banding_immune_to_stopword_shingle(spark):
    """MinHash-LSH's candidate volume is governed by SIGNATURE collisions,
    not shingle document frequency — the stopword corpus must not blow up
    its candidate stage the way it does the raw shingle join, and the
    planted near-dup still surfaces."""
    corpus = _stopword_corpus(spark)
    pairs = dedup.minhash_lsh_dupes(corpus, jaccard_threshold=0.5)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (9001, 9002) in found
    # near-identical signatures require near-identical shingle SETS; the
    # unique token{i} body keeps unrelated docs out
    assert len(found) < 50


def test_minhash_band_key_guard_caps_giant_buckets(spark):
    """sf100 rehearsal hazard: identical/boilerplate doc groups key
    giant band buckets (B docs -> B^2/2 candidate pairs in EVERY band;
    measured 6.26e9 candidates from 5M docs, max bucket 6,990).
    ``max_docs_per_band_key`` drops over-cap buckets before pairing:
    candidates collapse, small buckets (the planted near-dup) keep
    surfacing, and pairs bucketed ONLY over-cap are lost — the
    documented recall-for-survival trade."""
    group = [
        Row(doc_id=i, text="boiler plate body repeated verbatim in every "
                           "copy of this identical template document")
        for i in range(60)
    ]
    filler = [
        Row(doc_id=1000 + i,
            text=f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h")
        for i in range(40)
    ]
    base = ("planted alpha bravo charlie delta echo foxtrot golf hotel "
            "india juliet kilo lima mike november")
    planted = [
        Row(doc_id=9001, text=f"{base} tokenA"),
        Row(doc_id=9002, text=f"{base} tokenB"),
    ]
    corpus = spark.createDataFrame(group + filler + planted)

    unguarded = dedup.minhash_lsh_dupes(corpus, jaccard_threshold=0.5)
    ug = {(r.doc_a, r.doc_b) for r in unguarded.collect()}
    assert sum(1 for a, b in ug if a < 60 and b < 60) == 60 * 59 // 2
    assert (9001, 9002) in ug

    guarded = dedup.minhash_lsh_dupes(
        corpus, jaccard_threshold=0.5, max_docs_per_band_key=10
    )
    g = {(r.doc_a, r.doc_b) for r in guarded.collect()}
    assert (9001, 9002) in g  # small buckets unaffected
    assert not any(a < 60 and b < 60 for a, b in g)  # giant buckets capped

    # Cross-engine pin for the GUARDED twin (registry entry
    # dedup_minhash_guarded): the DuckDB QUALIFY bucket-size cut must
    # drop exactly the buckets the operator's bucket-grouping path drops
    # — on a corpus where the cap actually BINDS (sf0.01 fixtures have
    # no over-cap buckets, so the driver's green check alone wouldn't
    # exercise the guard clause).
    import duckdb
    import pandas as pd

    from nosql_based_business_intelligence_system_spark.queries.text_suite import (
        _dd_minhash_sql,
    )

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            [(r.doc_id, r.text) for r in group + filler + planted],
            columns=["doc_id", "text"],
        ),
    )
    cur = con.execute(_dd_minhash_sql(max_docs_per_band_key=10))
    want = {(a, b) for a, b, _ in cur.fetchall()}
    assert {(a, b) for a, b in g} == want


def test_pair_disk_guard_fires_on_blast_corpus(spark, monkeypatch):
    """A corpus where every doc shares one boilerplate shingle is the
    ENOSPC class: d docs in one bucket = d*(d-1)/2 pairs. The guard must
    price that BEFORE the self-join and raise a clear error naming the
    cap lever — 200 docs sharing a trigram = 19,900 pairs, priced over a
    deliberately tiny 1 KB budget."""
    import pytest

    monkeypatch.setattr(dedup, "PAIR_GUARD_MIN_BYTES", 0)
    monkeypatch.setenv("SPARK_GRAFT_PAIR_DISK_BUDGET", "1024")
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="the quick fox jumps " + f"tail{i}")
         for i in range(200)]
    )
    with pytest.raises(
        dedup.PairExplosionError, match="max_docs_per_shingle"
    ):
        dedup.ngram_jaccard_dupes(docs, n=3, threshold=0.5).count()
    # minhash flavor: exact-duplicate texts collide in every band bucket
    dupes = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta epsilon zeta")
         for i in range(100)]
    )
    with pytest.raises(
        dedup.PairExplosionError, match="max_docs_per_band_key"
    ):
        dedup.minhash_lsh_dupes(dupes, jaccard_threshold=0.5).count()


def test_pair_disk_guard_noop_on_fixture(spark, sf_correctness, monkeypatch):
    """On the real fixtures the guard must be a pure no-op: default
    budget (free scratch disk), same rows as the unguarded plan, and the
    byte estimate far under budget. Also pins that an ACTIVE bucket cap
    shrinks the estimate (only pair-eligible buckets are priced)."""
    from nosql_based_business_intelligence_system_spark.queries import text_suite

    docs = text_suite._docs(spark, sf_correctness)
    plain = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_dupes(docs, n=3, threshold=0.5).collect()
    }
    monkeypatch.setattr(dedup, "PAIR_GUARD_MIN_BYTES", 0)
    guarded = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_dupes(docs, n=3, threshold=0.5).collect()
    }
    assert guarded == plain and plain
    sh = dedup.shingle_rows(docs, "text", "doc_id", 3)
    est_all = dedup.pair_guard(sh, ["shingle"], "max_docs_per_shingle")
    small = sh.join(
        sh.groupBy("shingle").count().filter("count <= 2"), "shingle"
    )
    est_capped = dedup.pair_guard(
        small, ["shingle"], "max_docs_per_shingle"
    )
    assert 0 < est_capped < est_all


def test_minhash_cross_corpus_guard_caps_and_matches_duckdb(spark):
    """Cross-corpus flavor of the band-cap pin: a boilerplate group
    spanning both corpora keys over-cap matched buckets on BOTH sides;
    the per-side cap drops them, the planted small cross pair survives,
    and the generated DuckDB twin (per-side QUALIFY cuts) reproduces the
    capped pair set exactly — on a corpus where the cap BINDS, which the
    sf fixtures don't exercise."""
    import duckdb
    import pandas as pd

    from nosql_based_business_intelligence_system_spark.queries.text_suite import (
        SEEN_SOURCES,
        _dd_minhash_cross_sql,
    )

    boiler = ("boiler plate body repeated verbatim in every copy of this "
              "identical template document")
    base = ("planted alpha bravo charlie delta echo foxtrot golf hotel "
            "india juliet kilo lima mike november")
    seen_rows = (
        [(i, boiler, SEEN_SOURCES[0]) for i in range(30)]
        + [(9001, f"{base} tokenA", SEEN_SOURCES[1])]
        + [(500 + i, f"s{i}a s{i}b s{i}c s{i}d s{i}e s{i}f s{i}g s{i}h",
            SEEN_SOURCES[0]) for i in range(20)]
    )
    new_rows = (
        [(1000 + i, boiler, "srcX") for i in range(30)]
        + [(9002, f"{base} tokenB", "srcX")]
        + [(1500 + i, f"n{i}a n{i}b n{i}c n{i}d n{i}e n{i}f n{i}g n{i}h",
            "srcX") for i in range(20)]
    )
    cols = ["doc_id", "text", "source"]
    new = spark.createDataFrame(new_rows, "doc_id long, text string, source string")
    seen = spark.createDataFrame(seen_rows, "doc_id long, text string, source string")

    unguarded = dedup.minhash_cross_corpus_dupes(new, seen, jaccard_threshold=0.5)
    ug = {(r.new_doc, r.seen_doc) for r in unguarded.collect()}
    assert sum(1 for a, b in ug if a >= 1000 and b < 30) == 30 * 30
    assert (9002, 9001) in ug

    guarded = dedup.minhash_cross_corpus_dupes(
        new, seen, jaccard_threshold=0.5, max_docs_per_band_key=10
    )
    g = {(r.new_doc, r.seen_doc) for r in guarded.collect()}
    assert (9002, 9001) in g  # small buckets unaffected
    assert not any(1000 <= a < 1030 and b < 30 for a, b in g)  # blast capped

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(new_rows + seen_rows, columns=cols)
    )
    cur = con.execute(_dd_minhash_cross_sql(max_docs_per_band_key=10))
    want = {(a, b) for a, b, _ in cur.fetchall()}
    assert g == want


def test_pair_disk_guard_fires_in_simhash(spark, monkeypatch):
    """r9 advisory: the simhash_dupes guard path (localCheckpoint +
    band/key pricing) only activates past PAIR_GUARD_MIN_BYTES of
    input, so pin it at unit scale with the gate at 0 — identical docs
    share every band bucket; a 1-byte env budget must fail fast naming
    the lever."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta epsilon zeta")
         for i in range(10)]
    )
    monkeypatch.setattr(dedup, "PAIR_GUARD_MIN_BYTES", 0)
    monkeypatch.setenv("SPARK_GRAFT_PAIR_DISK_BUDGET", "1")
    with _pytest.raises(dedup.PairExplosionError, match="band-key bucket cap"):
        dedup.simhash_dupes(docs, max_hamming=3).count()
    monkeypatch.delenv("SPARK_GRAFT_PAIR_DISK_BUDGET")
    # default budget (free disk): guard is a no-op, pairs all surface
    assert (
        dedup.simhash_dupes(docs, max_hamming=3).count()
        == 10 * 9 // 2
    )
