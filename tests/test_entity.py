"""Entity-resolution operator invariants (blocking recall, skew guard,
canonical-spelling vote); the full-query oracle check lives in the registry
(part_name_near_pairs / part_name_entities)."""

from __future__ import annotations

from pyspark.sql import Row

from nosql_based_business_intelligence_system_spark.operators import entity

ROWS = [
    # "acme corp" spelled three ways; "acme corp" is the most frequent
    Row(id=1, name="Acme Corp"),
    Row(id=2, name="acme corp"),
    Row(id=3, name="  ACME  Corp "),
    Row(id=4, name="acme corq"),       # typo in LAST token -> first-token pass
    Row(id=5, name="acne corp"),       # typo in FIRST token -> last-token pass
    Row(id=6, name="zenith widgets"),  # no fuzzy neighbor: singleton
    Row(id=7, name="zenith widgets"),
]


def _df(spark):
    return spark.createDataFrame(ROWS)


def test_name_dictionary_collapses_case_and_whitespace(spark):
    d = {r.name: (r.rep_id, r.n_rows) for r in
         entity.name_dictionary(_df(spark), "name", "id").collect()}
    assert d["acme corp"] == (1, 3)  # three spellings of the same string
    assert d["zenith widgets"] == (6, 2)
    assert set(d) == {"acme corp", "acme corq", "acne corp", "zenith widgets"}


def test_fuzzy_pairs_found_by_either_blocking_pass(spark):
    pairs = {(r.name_a, r.name_b): r.edit_distance for r in
             entity.fuzzy_name_pairs(_df(spark), "name", "id",
                                     max_distance=1).collect()}
    # last-token typo shares the first token; first-token typo shares the last
    assert pairs[("acme corp", "acme corq")] == 1
    assert pairs[("acme corp", "acne corp")] == 1
    # two typo variants differ in both tokens -> no shared block at d<=1
    assert ("acme corq", "acne corp") not in pairs


def test_pairs_deduped_across_passes(spark):
    # "acme corp"/"acme corq" also share NO last token, but "acme corp" vs
    # "acne corp" surfaces only once even if both passes could emit it
    out = entity.fuzzy_name_pairs(_df(spark), "name", "id", max_distance=2)
    rows = [(r.name_a, r.name_b) for r in out.collect()]
    assert len(rows) == len(set(rows))


def test_skew_guard_drops_oversized_blocks(spark):
    # every name shares last token "corp" -> that block exceeds the cap and
    # is dropped from the last-token pass; first-token pass still matches
    rows = [Row(id=i, name=f"name{i} corp") for i in range(10)]
    rows.append(Row(id=99, name="name0 corq"))
    df = spark.createDataFrame(rows)
    out = entity.fuzzy_name_pairs(
        df, "name", "id", max_distance=1, max_names_per_block=5
    ).collect()
    assert {(r.name_a, r.name_b) for r in out} == {("name0 corp", "name0 corq")}


def test_resolve_entities_frequency_weighted_canonical(spark):
    out = {r.name: r for r in
           entity.resolve_entities(_df(spark), "name", "id",
                                   max_distance=1).collect()}
    # the three-spelling cluster resolves to its most frequent member
    assert out["acme corq"].canonical_name == "acme corp"
    assert out["acne corp"].canonical_name == "acme corp"
    assert out["acme corp"].cluster_id == out["acme corq"].cluster_id
    # singleton keeps itself
    assert out["zenith widgets"].canonical_name == "zenith widgets"
    assert out["zenith widgets"].cluster_id == "zenith widgets"


def test_single_token_typos_always_found_property(spark):
    """Property: inject one edit into ONE token of a two-token name — the
    other token still blocks the pair, so fuzzy_name_pairs must surface it
    at edit distance 1 regardless of which names/typos hypothesis picks."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import Row

    word = st.text(alphabet="abcdef", min_size=3, max_size=6)

    @settings(max_examples=8, deadline=None)
    @given(
        first=word, last=word,
        which=st.sampled_from(["first", "last"]),
        pos=st.integers(min_value=0, max_value=2),
        ch=st.sampled_from("xyz"),  # disjoint alphabet: edit distance exactly 1
    )
    def prop(first, last, which, pos, ch):
        base = f"{first} {last}"
        if which == "first":
            typo = f"{first[:pos]}{ch}{first[pos + 1:]} {last}"
        else:
            typo = f"{first} {last[:pos]}{ch}{last[pos + 1:]}"
        df = spark.createDataFrame(
            [Row(id=1, name=base), Row(id=2, name=typo)]
        )
        pairs = {
            (r.name_a, r.name_b): r.edit_distance
            for r in entity.fuzzy_name_pairs(
                df, "name", "id", max_distance=1
            ).collect()
        }
        key = tuple(sorted([base, typo]))
        assert pairs.get(key) == 1

    prop()


def test_single_token_typo_found_via_prefix_suffix_blocking(spark):
    """Property: for SINGLE-token names of >= 8 chars, one substitution
    leaves either the 4-char prefix (edit position > 4) or the 4-char
    suffix (edit position <= len-4) intact — the prefix4/suffix4 passes
    must surface the pair that token blocking alone cannot (both token
    keys collapse to the whole name)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import Row

    word = st.text(alphabet="abcdef", min_size=8, max_size=12)

    @settings(max_examples=8, deadline=None)
    @given(
        name=word,
        pos_frac=st.floats(min_value=0.0, max_value=1.0),
        ch=st.sampled_from("xyz"),  # disjoint alphabet: distance exactly 1
    )
    def prop(name, pos_frac, ch):
        pos = min(int(pos_frac * len(name)), len(name) - 1)
        typo = f"{name[:pos]}{ch}{name[pos + 1:]}"
        df = spark.createDataFrame(
            [Row(id=1, name=name), Row(id=2, name=typo)]
        )
        pairs = {
            (r.name_a, r.name_b): r.edit_distance
            for r in entity.fuzzy_name_pairs(
                df, "name", "id", max_distance=1
            ).collect()
        }
        assert pairs.get(tuple(sorted([name, typo]))) == 1

    prop()


def test_pairs_self_join_holds_no_cache(spark):
    """The blocking self-join must NOT cache (a persist here once leaked
    storage across long sessions: nothing ever unpersisted it). Both
    sides are the identical subplan, so Catalyst's exchange/stage reuse
    covers the recompute concern without pinning blocks."""
    from nosql_based_business_intelligence_system_spark.plans import inspect as I

    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out = entity.fuzzy_name_pairs(_df(spark), "name", "id", max_distance=1)
    out.collect()
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after == before  # no new pinned blocks
    assert "InMemoryTableScan" not in I.explain_str(out, "formatted")


def _force_guard(monkeypatch, budget=None):
    """Run the pair guard at unit scale (gate at 0 bytes of input), with
    an env budget when given, else the free scratch disk."""
    from nosql_based_business_intelligence_system_spark.operators import dedup

    monkeypatch.setattr(dedup, "PAIR_GUARD_MIN_BYTES", 0)
    if budget is not None:
        monkeypatch.setenv("SPARK_GRAFT_PAIR_DISK_BUDGET", str(budget))


def test_pair_disk_guard_fires_in_blocking_join(spark, monkeypatch):
    """r10 verdict item 5: the blocking self-join prices its candidate
    volume before launching — a shared last token keys one giant block,
    and a 1 KB budget must fail fast naming max_names_per_block."""
    import pytest

    from nosql_based_business_intelligence_system_spark.operators.dedup import (
        PairExplosionError,
    )

    _force_guard(monkeypatch, 1024)
    rows = [Row(id=i, name=f"name{i} corp") for i in range(100)]
    df = spark.createDataFrame(rows)
    with pytest.raises(PairExplosionError, match="max_names_per_block"):
        entity.fuzzy_name_pairs(df, "name", "id", max_distance=1).count()
    # an ACTIVE cap removes the blast blocks from the price (the guard
    # runs on the post-cap frame), so the same budget passes
    assert (
        entity.fuzzy_name_pairs(
            df, "name", "id", max_distance=1, max_names_per_block=5
        ).count()
        == 0
    )


def test_pair_disk_guard_noop_in_blocking_join(spark, monkeypatch):
    """Default budget (free scratch disk): guard is a pure no-op — same
    pairs as the unguarded plan."""
    rows = [Row(id=i, name=f"name{i} corp") for i in range(10)]
    rows.append(Row(id=99, name="name0 corq"))
    df = spark.createDataFrame(rows)
    plain = {
        (r.name_a, r.name_b)
        for r in entity.fuzzy_name_pairs(df, "name", "id", max_distance=1).collect()
    }
    _force_guard(monkeypatch)
    guarded = {
        (r.name_a, r.name_b)
        for r in entity.fuzzy_name_pairs(df, "name", "id", max_distance=1).collect()
    }
    assert guarded == plain and plain


def test_resolve_entities_forwards_pair_disk_budget(spark, monkeypatch):
    """r10 ADVICE: the clustering entry point must be guarded like
    fuzzy_name_pairs — its blocking self-join fails fast under the same
    budget, naming the same lever."""
    import pytest

    from nosql_based_business_intelligence_system_spark.operators.dedup import (
        PairExplosionError,
    )

    _force_guard(monkeypatch, 1024)
    rows = [Row(id=i, name=f"name{i} corp") for i in range(100)]
    df = spark.createDataFrame(rows)
    with pytest.raises(PairExplosionError, match="max_names_per_block"):
        entity.resolve_entities(df, "name", "id", max_distance=1).count()
