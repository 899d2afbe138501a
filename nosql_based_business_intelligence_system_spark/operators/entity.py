"""Fuzzy entity resolution — blocked string matching over dimension names.

A BI system fed from operational exports (the reference ingests a free-text
spreadsheet and groups on label columns, Project.py:124-140) inevitably meets
the same real-world entity spelled several ways; grouping on the raw string
silently splits that entity's aggregates. Resolution = find near-identical
name pairs, link them transitively, pick a canonical representative.

Spark-first shape (the classic record-linkage pipeline, blocked so it never
goes all-pairs):

1. **Collapse to the name dictionary.** groupBy the normalized name — at
   100 TB the distinct-name dictionary is orders of magnitude smaller than
   the row count, and every later stage works on the dictionary only.
2. **Multi-pass blocking.** Each pass emits one join key per name (first
   token, last token); candidate pairs are equi-joins within a pass's key —
   shuffle keyed on (pass, block key), never a cross join. Two passes catch
   typos in either token; a pair found by both passes is de-duplicated.
3. **Verify.** ``F.levenshtein`` (JVM codegen) at/below ``max_distance``.
   DuckDB's ``levenshtein`` computes the same classic edit distance, which
   is what makes the operator oracle-checkable end to end.
4. **Link + canonicalize** via :func:`..operators.dedup.connected_components`
   (iterative min-label propagation) and a keep-min-id rule.

The skew guard mirrors dedup.shingle_doc_pairs: a block bigger than
``max_names_per_block`` (a stopword-like token shared by every name) is
dropped from that pass rather than exploding the self-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _guarded, connected_components, pair_guard

def normalize_name(col: Column) -> Column:
    """Case-fold, trim, and collapse internal whitespace runs."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def name_dictionary(
    df: DataFrame, name_col: str, id_col: str
) -> DataFrame:
    """Distinct normalized names: (name, rep_id = min id, n_rows).

    The dictionary is the unit of all downstream matching — resolution cost
    scales with distinct names, not with fact rows.
    """
    return (
        df.select(
            normalize_name(F.col(name_col)).alias("name"),
            F.col(id_col).alias("__id"),
        )
        .groupBy("name")
        .agg(
            F.min("__id").alias("rep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )


#: Blocking passes: pass label -> key expression over the normalized name.
#:
#: first/last token cover multi-token names (a typo in one token leaves
#: the other token's key intact). For SINGLE-token names both token keys
#: collapse to the whole name, so any typo would change both — the
#: prefix/suffix passes close that hole: a single edit at position p
#: leaves the 4-char prefix intact when p > 4 and the 4-char suffix
#: intact when p <= len-4, so names of >= 8 chars always keep at least
#: one stable key under one edit. Residual recall limits (documented,
#: not silent): single-token names shorter than 8 chars with an edit in
#: the overlap zone, and >= 2 edits that straddle both ends.
_BLOCK_PASSES = {
    "first_token": lambda name: F.split(name, " ").getItem(0),
    "last_token": lambda name: F.element_at(F.split(name, " "), -1),
    "prefix4": lambda name: F.left(name, F.lit(4)),
    "suffix4": lambda name: F.right(name, F.lit(4)),
}


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str,
    max_distance: int = 2,
    max_names_per_block: int | None = None,
) -> DataFrame:
    """Near-identical name pairs: (name_a, name_b, id_a, id_b, rows_a,
    rows_b, edit_distance), name_a < name_b, distance <= ``max_distance``.

    Candidates come from the union of the blocking passes; the verify
    filter runs inside the join stage, so only surviving pairs shuffle to
    the final distinct. ``rows_a``/``rows_b`` carry how many fact rows each
    spelling covers — the resolution decision ("which spelling wins") needs
    the frequencies, and carrying them here avoids a join-back.

    The prefix/suffix passes key on only 4 chars, so block sizes grow with
    corpus size — at scale pass ``max_names_per_block`` to cap the O(b^2)
    within-block comparison (the cap drops oversized blocks from those
    passes only; token passes still cover their names). Past
    ``dedup.PAIR_GUARD_MIN_BYTES`` of input the blocked pair volume is
    priced before the self-join launches, naming that cap.
    """
    names = name_dictionary(df, name_col, id_col)
    keyed = None
    for tag, key_fn in _BLOCK_PASSES.items():
        part = names.select(
            F.lit(tag).alias("pass_"),
            key_fn(F.col("name")).alias("bkey"),
            "name",
            "rep_id",
            "n_rows",
        )
        keyed = part if keyed is None else keyed.unionByName(part)
    if max_names_per_block is not None:
        sizes = keyed.groupBy("pass_", "bkey").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        keyed = (
            keyed.join(
                sizes.filter(F.col("__bn") <= max_names_per_block),
                ["pass_", "bkey"],
            )
            .drop("__bn")
        )
    if _guarded(df):
        # r10 verdict item 5: the prefix/suffix passes key on only 4
        # chars, so block sizes grow with corpus size and this was one of
        # two pair generators of the r8 ENOSPC blast class without an
        # admission check (per-pass caps bound bucket SIZE when set, but
        # nothing priced total volume). One narrow aggregate over
        # (pass_, bkey) — deliberately on the un-checkpointed frame: the
        # guard job re-runs the (cheap, dictionary-bounded) blocking
        # lineage once rather than checkpointing `keyed`, which would
        # break the self-join's ReusedExchange and its size statistics.
        # When the cap already filtered `keyed`, the price reflects the
        # post-cap volume, as it must.
        pair_guard(
            keyed.select("pass_", "bkey"),
            ["pass_", "bkey"],
            lever="max_names_per_block",
        )
    # No persist: the self-join's two sides are the identical subplan
    # exchanged on the same keys, so Catalyst reuses one shuffle
    # (ReusedExchange, asserted in tests) — caching here would only leak
    # storage across a long session since the caller owns materialization.
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.pass_") == F.col("b.pass_"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .filter(
            F.levenshtein(F.col("a.name"), F.col("b.name")) <= max_distance
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.col("a.rep_id").alias("id_a"),
            F.col("b.rep_id").alias("id_b"),
            F.col("a.n_rows").alias("rows_a"),
            F.col("b.n_rows").alias("rows_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name"))
            .cast("bigint")
            .alias("edit_distance"),
        )
        .distinct()  # a pair can surface from both blocking passes
    )
    return pairs


def resolve_entities(
    df: DataFrame,
    name_col: str,
    id_col: str,
    max_distance: int = 2,
    max_names_per_block: int | None = None,
) -> DataFrame:
    """Cluster near-identical names and pick a canonical spelling per
    cluster: (name, rep_id, n_rows, cluster_id, canonical_name).

    The canonical spelling is the cluster member covering the MOST fact
    rows (ties broken by lexicographic min) — frequency-weighted voting,
    the standard resolution rule. Names with no fuzzy match form singleton
    clusters of themselves. One ``max_by`` aggregate over the cluster,
    broadcast back onto the dictionary — cluster count is bounded by the
    dictionary size, so the join-back never becomes the wide side.
    """
    names = fuzzy_name_pairs(
        df, name_col, id_col, max_distance, max_names_per_block
    )
    comps = connected_components(names, a_col="name_a", b_col="name_b")
    dictionary = name_dictionary(df, name_col, id_col)
    labeled = dictionary.join(
        comps.withColumnRenamed("node", "name").withColumnRenamed(
            "comp", "cluster_id"
        ),
        "name",
        "left",
    ).withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("name")))
    canon = labeled.groupBy("cluster_id").agg(
        F.min_by(
            F.col("name"),
            # min over (-n_rows, name): largest coverage wins, ties fall to
            # the lexicographically smallest spelling — one aggregate, no
            # window pass over the dictionary
            F.struct((-F.col("n_rows")).alias("neg_rows"), F.col("name")),
        ).alias("canonical_name")
    )
    return labeled.join(canon, "cluster_id").select(
        "name", "rep_id", "n_rows", "cluster_id", "canonical_name"
    )
