"""Self-consistency tests for dedup operators (SURVEY.md §5.2.5: LSH ops are
not SQL-expressible, so they're verified by internal invariants instead)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from nosql_based_business_intelligence_system_spark.operators import dedup

DOCS = [
    Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again today"),
    Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again today"),  # exact dup of 1
    Row(doc_id=3, text="the quick brown fox jumps over the lazy dog again tomorrow"),  # near dup
    Row(doc_id=4, text="completely different words about spark and data engines"),
    Row(doc_id=5, text="another unrelated document mentioning databases and queries"),
]


def _df(spark):
    return spark.createDataFrame(DOCS)


def test_exact_dedup_keeps_min_id(spark):
    kept = sorted(r.doc_id for r in dedup.exact_dedup(_df(spark)).collect())
    assert kept == [1, 3, 4, 5]


def test_exact_dedup_summary_counts(spark):
    r = dedup.exact_dedup_summary(_df(spark)).collect()[0]
    assert (r.n_docs, r.n_unique, r.n_duplicates) == (5, 4, 1)


def test_ngram_jaccard_finds_exact_and_near(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_dupes(_df(spark), threshold=0.4).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs -> jaccard exactly 1
    assert (1, 3) in pairs and 0.4 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_ngram_shingle_df_guard_pins_boilerplate(spark):
    """max_docs_per_shingle (the scale-mandatory skew guard, engaged by
    the registry queries at NGRAM_MAX_DF): shingles shared by more docs
    than the cap are dropped from candidate GENERATION, so pairs whose
    only common shingles are boilerplate vanish, while pairs sharing
    rare shingles keep their (now boilerplate-free) Jaccard evidence."""
    from pyspark.sql import Row

    boiler = "click here to subscribe now"
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=f"{boiler} item{i} alpha{i} beta{i} gamma{i}")
            for i in range(4)
        ]
        + [
            Row(doc_id=10, text=f"{boiler} shared rare payload words here"),
            Row(doc_id=11, text=f"{boiler} shared rare payload words here"),
        ]
    )
    # Unguarded: every pair shares the boilerplate shingles.
    unguarded = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_dupes(docs, threshold=0.05).collect()
    }
    assert (0, 1) in unguarded and (10, 11) in unguarded
    # Guarded at cap=3: boilerplate shingles (df=6) are dropped; the
    # boilerplate-only pairs vanish, the rare-content dup pair survives.
    guarded = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_dupes(
            docs, threshold=0.05, max_docs_per_shingle=3
        ).collect()
    }
    assert (10, 11) in guarded
    assert not any(a < 10 for a, _ in guarded)


def test_minhash_finds_exact_dup_at_distance_zero(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_lsh_dupes(_df(spark), jaccard_threshold=0.5).collect()
    }
    assert pairs.get((1, 2)) == 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_simhash_identical_docs_hamming_zero(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_dupes(_df(spark), max_hamming=16).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert pairs.get((1, 3), 99) <= 16  # near dup within a few bits


def test_minhash_recall_vs_exact_jaccard_on_fixture(spark, sf_smoke):
    """MinHash candidates must recover most true Jaccard>=0.5 pairs."""
    from nosql_based_business_intelligence_system_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    truth = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_dupes(docs, threshold=0.5).collect()
    }
    if not truth:
        return  # nothing to recall at this sf
    est = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_dupes(docs, jaccard_threshold=0.4).collect()
    }
    recall = len(truth & est) / len(truth)
    assert recall >= 0.8, (recall, len(truth))


def test_dedup_connected_keep_min(spark):
    df = _df(spark)
    pairs = dedup.ngram_jaccard_dupes(df, threshold=0.4)
    kept = dedup.dedup_connected_keep_min(pairs, df.select("doc_id"))
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 4, 5]  # 2 and 3 drop as higher-id members of pairs


def test_connected_components_chain_and_ring(spark):
    """Transitive closure: a 4-chain and a 3-ring resolve to min-id labels
    even though no single pair links the extremes."""
    from pyspark.sql import Row

    pairs = spark.createDataFrame(
        [
            Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3), Row(doc_a=3, doc_b=4),  # chain
            Row(doc_a=10, doc_b=11), Row(doc_a=11, doc_b=12), Row(doc_a=10, doc_b=12),  # ring
            Row(doc_a=20, doc_b=21),  # simple pair
        ]
    )
    comp = {r.node: r.comp for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_agrees_with_keep_min_on_fixture(spark, sf_smoke):
    """On the fixture corpus the CC minima must be kept by keep-min too."""
    from nosql_based_business_intelligence_system_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    pairs = dedup.ngram_jaccard_dupes(docs, threshold=0.5)
    cc = dedup.connected_components(pairs)
    minima = {r.comp for r in cc.collect()}
    kept = {
        r.doc_id
        for r in dedup.dedup_connected_keep_min(pairs, docs.select("doc_id")).collect()
    }
    assert minima <= kept


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 60-node path needs >>20 one-hop rounds; pointer jumping must close
    it within the default budget (the docstring's O(log D) claim)."""
    from pyspark.sql import Row

    from nosql_based_business_intelligence_system_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(59)]
    )
    labels = connected_components(pairs, max_iterations=12)
    comps = {r.comp for r in labels.collect()}
    assert comps == {0}


def test_connected_components_nonconvergence_raises(spark):
    """max_iterations bounds the DISTRIBUTED iteration only; force that
    path with small_graph_cap=0 so the union-find fast path (which solves
    exactly without iterating) doesn't short-circuit the contract."""
    from pyspark.sql import Row

    from nosql_based_business_intelligence_system_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(59)]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=2, small_graph_cap=0)


def test_connected_components_fast_path_matches_distributed(spark):
    """The driver-side union-find fast path and the distributed label
    propagation must produce the identical (node, comp) closure — same
    graph, two forks in the tree plus a singleton-free chain."""
    from pyspark.sql import Row

    from nosql_based_business_intelligence_system_spark.operators.dedup import connected_components

    edges = (
        [Row(doc_a=i, doc_b=i + 1) for i in range(20)]  # chain 0..20
        + [Row(doc_a=100, doc_b=105), Row(doc_a=105, doc_b=101)]  # triangle-ish
        + [Row(doc_a=200, doc_b=300), Row(doc_a=250, doc_b=300)]  # star
    )
    pairs = spark.createDataFrame(edges)
    fast = connected_components(pairs)  # 24 edges < default cap -> union-find
    dist = connected_components(pairs, small_graph_cap=0)
    assert sorted((r.node, r.comp) for r in fast.collect()) == sorted(
        (r.node, r.comp) for r in dist.collect()
    )


def test_cross_corpus_asymmetric(spark):
    """Incremental dedup pairs only new x seen — seen-side self-dups never
    appear, new-side self-dups never appear."""
    new = spark.createDataFrame(
        [
            Row(doc_id=10, text="the quick brown fox jumps over the lazy dog again today"),
            Row(doc_id=11, text="totally novel content nothing like anything previously stored"),
            Row(doc_id=12, text="totally novel content nothing like anything previously stored"),  # dup within new: must NOT pair
        ]
    )
    seen = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again today"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again today"),  # dup within seen: must NOT pair
            Row(doc_id=3, text="some other stored document about warehouse inventory levels"),
        ]
    )
    pairs = dedup.cross_corpus_dupes(new, seen, n=3, threshold=0.5).collect()
    got = sorted((r.new_doc, r.seen_doc) for r in pairs)
    assert got == [(10, 1), (10, 2)]
    for r in pairs:
        assert r.jaccard == 1.0


# --- duplicated-span removal -------------------------------------------------


def test_span_dedup_keeps_first_occurrence(spark):
    # k=5 spans: docs 1 and 2 are identical (2 full spans + 1 tail span each);
    # doc 2's copies must all be removed, doc 1 keeps everything.
    rows = {
        r.doc_id: r
        for r in dedup.span_dedup(_df(spark), k=5).collect()
    }
    assert rows[1].n_removed_spans == 0
    assert rows[1].kept_text == DOCS[0].text
    assert rows[2].n_spans == rows[2].n_removed_spans > 0
    assert rows[2].kept_text == ""
    # near-dup doc 3: spans 1-2 ("the quick brown fox jumps", "over the
    # lazy dog again") align with doc 1; only the "tomorrow" tail differs.
    assert rows[3].n_removed_spans == 2
    assert rows[3].kept_text == "tomorrow"
    # unrelated docs untouched
    assert rows[4].n_removed_spans == 0 and rows[4].kept_text == DOCS[3].text


def test_span_dedup_empty_doc_survives(spark):
    from pyspark.sql import Row as R

    df = spark.createDataFrame(
        [R(doc_id=1, text=""), R(doc_id=2, text="one two three")]
    )
    rows = {r.doc_id: r for r in dedup.span_dedup(df, k=2).collect()}
    assert rows[1].n_spans == 0 and rows[1].kept_text == ""
    assert rows[2].n_spans == 2 and rows[2].kept_text == "one two three"


def test_span_dedup_summary_consistent_with_per_doc(spark):
    per_doc = dedup.span_dedup(_df(spark), k=5).collect()
    summary = dedup.span_dedup_summary(_df(spark), k=5).collect()[0]
    assert summary.n_spans == sum(r.n_spans for r in per_doc)
    assert summary.n_removed_spans == sum(r.n_removed_spans for r in per_doc)
    assert summary.n_docs_affected == sum(
        1 for r in per_doc if r.n_removed_spans > 0
    )


def test_minhash_signatures_match_duckdb(spark):
    """The portable hash family is pinned cross-engine at the unit level:
    Spark signatures equal a DuckDB recomputation (md5 base, wrapping
    int64 multiply-add, same coefficients)."""
    import duckdb

    from nosql_based_business_intelligence_system_spark.operators.dedup import (
        mh_coefficients,
    )

    docs = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs añejo")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc: list(r.sig)
           for r in dedup.minhash_signatures(df, num_hashes=8).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    two64, two63 = 1 << 64, 1 << 63
    for doc_id, _ in docs:
        sig = []
        for a, b in mh_coefficients(8, 42):
            v = con.execute(f"""
              SELECT MIN(CAST(CASE WHEN w >= {two63} THEN w - {two64}
                               ELSE w END AS BIGINT))
              FROM (
                SELECT (({a}::HUGEINT * h + {b}) % {two64}) AS w FROM (
                  SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
                  FROM (
                    SELECT unnest(list_distinct(
                      [array_to_string(t[i:i+2], ' ')
                       for i in range(1, greatest(len(t)-2, 0) + 1)])) AS g
                    FROM (SELECT list_filter(string_split(text, ' '),
                                             x -> x <> '') AS t
                          FROM d WHERE doc_id = {doc_id})
                  )
                )
              )""").fetchone()[0]
            sig.append(v)
        assert got[doc_id] == sig, doc_id


def test_simhash_fingerprints_match_duckdb(spark):
    """60-bit SimHash fingerprints equal a DuckDB recomputation."""
    import duckdb

    from nosql_based_business_intelligence_system_spark.operators.dedup import (
        SIMHASH_BITS,
    )

    docs = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc: r.fp for r in
           dedup.simhash_fingerprints(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    for doc_id, _ in docs:
        fp = 0
        for b in range(SIMHASH_BITS):
            v = con.execute(f"""
              SELECT SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)
              FROM (
                SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                FROM (SELECT unnest(list_distinct(list_filter(
                        string_split(text, ' '), x -> x <> ''))) AS tok
                      FROM d WHERE doc_id = {doc_id})
              )""").fetchone()[0]
            if v > 0:
                fp |= 1 << b
        assert got[doc_id] == fp, doc_id


# --- cross-corpus MinHash (the 100 TB incremental-crawl contract) ------------


def test_minhash_cross_corpus_asymmetric(spark):
    """minhash_cross_corpus_dupes pairs only new x seen: within-side
    exact dups never appear, the cross dup scores est_jaccard 1.0."""
    new = spark.createDataFrame(
        [
            Row(doc_id=10, text="the quick brown fox jumps over the lazy dog again today"),
            Row(doc_id=11, text="totally novel content nothing like anything previously stored"),
            Row(doc_id=12, text="totally novel content nothing like anything previously stored"),  # dup within new: must NOT pair
        ]
    )
    seen = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again today"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again today"),  # dup within seen: must NOT pair
            Row(doc_id=3, text="some other stored document about warehouse inventory levels"),
        ]
    )
    pairs = dedup.minhash_cross_corpus_dupes(
        new, seen, jaccard_threshold=0.5
    ).collect()
    got = sorted((r.new_doc, r.seen_doc) for r in pairs)
    assert got == [(10, 1), (10, 2)]
    for r in pairs:
        assert r.est_jaccard == 1.0


def test_cross_pair_disk_guard_fires_on_blast(spark, monkeypatch):
    """An exact-duplicate blast across both corpora keys one giant
    matched band bucket per band; the cross guard must price A*B pairs
    and fail fast naming the cap lever BEFORE the bucket join."""
    text = "alpha beta gamma delta epsilon zeta"
    new = spark.createDataFrame([Row(doc_id=i, text=text) for i in range(60)])
    seen = spark.createDataFrame(
        [Row(doc_id=1000 + i, text=text) for i in range(60)]
    )
    monkeypatch.setattr(dedup, "PAIR_GUARD_MIN_BYTES", 0)
    monkeypatch.setenv("SPARK_GRAFT_PAIR_DISK_BUDGET", "1024")
    with pytest.raises(dedup.PairExplosionError, match="max_docs_per_band_key"):
        dedup.minhash_cross_corpus_dupes(
            new, seen, jaccard_threshold=0.5
        ).count()
    # an ACTIVE per-side cap removes the blast buckets from the price, so
    # the same budget passes (guard mirrors the drop-then-pair semantics)
    assert (
        dedup.minhash_cross_corpus_dupes(
            new, seen, jaccard_threshold=0.5, max_docs_per_band_key=10
        ).count()
        == 0
    )
