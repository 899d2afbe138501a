"""Byte-pair-encoding vocabulary training + encoding, Spark-first.

BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units") trains a merge list by repeatedly fusing the most frequent
adjacent symbol pair. The distributed formulation operates on the WORD
FREQUENCY table, not the corpus: the corpus is scanned once to count words
(one groupBy), and every merge round then touches only the vocab-sized
(word, freq, symbols) table — at 100 TB the corpus is petabytes but the
word table is millions of rows, so the per-round cost is independent of
corpus size. Each round does:

1. one grouped agg over exploded adjacent pairs (freq-weighted) — partial
   aggregation applies;
2. one driver-side ``head(1)`` of the winning pair (a scalar action on a
   checkpointed table, the same convergence-probe pattern as
   ``dedup.connected_components``);
3. one narrow ``transform`` rewriting symbol arrays (no shuffle).

Encoding applies the learned merge list with an Arrow-batched pandas UDF —
BPE encode is inherently sequential per word (merge order matters), which
is exactly the "built-ins genuinely can't express it" carve-out; the merge
list is a broadcast-sized python dict and batches stream through Arrow.

No counterpart in the reference (`Project.py` has no text pipeline); this
is north-star LLM-pipeline scope (token counting's training-side twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: End-of-word sentinel appended as a separate symbol, per the paper —
#: keeps merges from crossing word boundaries when decoded.
EOW = "</w>"


def _word_freqs(df: DataFrame, content_col: str) -> DataFrame:
    """(word, freq, syms) — whitespace-split words with char symbols + EOW."""
    from .partitioning import spread

    return (
        spread(df).select(
            F.explode(
                F.filter(
                    F.split(F.coalesce(F.col(content_col), F.lit("")), r"\s+"),
                    lambda w: w != "",
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "syms",
            F.concat(
                F.filter(F.split("word", ""), lambda c: c != ""),
                F.array(F.lit(EOW)),
            ),
        )
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Freq-weighted adjacent-pair counts over the symbol arrays."""
    return (
        words.select(
            "freq",
            F.explode(
                F.when(
                    F.size("syms") >= 2,
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n"))
    )


def _merge_pair(words: DataFrame, a: str, b: str) -> DataFrame:
    """Rewrite every symbol array, fusing left-to-right non-overlapping
    (a, b) adjacencies into a+b — a single fold, no shuffle.

    The fold carries (out array, skip flag): when skip is set the current
    symbol was consumed by the previous fusion, so "a a a" with pair
    (a, a) merges the FIRST two only — matching reference BPE.
    """
    la, lb = F.lit(a), F.lit(b)
    # acc = (out, skip, i): i counts input symbols visited so the
    # next-symbol peek indexes the ORIGINAL array correctly even after
    # fusions shrink `out` (current symbol is input position i+1,
    # 1-based; its successor is i+2). Peeking the original array is
    # correct only because fused output is never re-examined: BPE merges
    # one pair per round, left to right.
    # F.get (0-based) not element_at: past-the-end peeks on the last
    # symbol must yield NULL, and ANSI-mode element_at throws there.
    nxt = lambda acc: F.get(  # noqa: E731
        F.col("syms"), (acc.i + F.lit(1)).cast("int")
    )
    folded = F.aggregate(
        F.col("syms"),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(False).alias("skip"),
            F.lit(0).alias("i"),
        ),
        lambda acc, x: F.when(
            acc.skip,
            F.struct(
                acc.out.alias("out"),
                F.lit(False).alias("skip"),
                (acc.i + 1).alias("i"),
            ),
        ).when(
            (x == la) & (nxt(acc) == lb),
            F.struct(
                F.concat(acc.out, F.array(F.concat(la, lb))).alias("out"),
                F.lit(True).alias("skip"),
                (acc.i + 1).alias("i"),
            ),
        ).otherwise(
            F.struct(
                F.concat(acc.out, F.array(x)).alias("out"),
                F.lit(False).alias("skip"),
                (acc.i + 1).alias("i"),
            )
        ),
        lambda acc: acc.out,
    )
    return words.select("word", "freq", folded.alias("syms"))


def bpe_train(
    df: DataFrame,
    content_col: str = "text",
    n_merges: int = 50,
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` BPE merges; returns [(a, b, freq), ...] in
    merge order. Stops early when no pair reaches ``min_pair_count``.

    Ties break deterministically on (count desc, a asc, b asc) so the
    merge list is engine- and partitioning-stable.
    """
    words = _word_freqs(df, content_col).localCheckpoint(eager=False)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(words)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .head(1)
        )
        if not top or top[0]["n"] < min_pair_count:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((a, b, n))
        words = _merge_pair(words, a, b).localCheckpoint(eager=False)
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a learned merge list: (id, tokens array<string>,
    n_tokens). Arrow-batched pandas UDF — encode is sequential per word by
    definition (merges apply in rank order), so this is the sanctioned
    Python boundary; the rank dict is closure-captured (broadcast with the
    task, merge lists are  KBs).
    """
    # Module-level import won't do: with `from __future__ import
    # annotations` the UDF type hints are strings, and pandas_udf resolves
    # them against the function's globals — so `pd` must live there.
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    def _encode_word(word: str, cache: dict) -> list[str]:
        if word in cache:
            return cache[word]
        syms = list(word) + [EOW]
        while len(syms) >= 2:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            a, b = syms[best], syms[best + 1]
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[word] = syms
        return syms

    @pandas_udf("array<string>")
    def _encode(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        return texts.map(
            lambda t: [
                tok
                for w in (t or "").split()
                for tok in _encode_word(w, cache)
            ]
        )

    return df.select(
        F.col(id_col),
        _encode(F.col(content_col)).alias("tokens"),
    ).withColumn("n_tokens", F.size("tokens").cast("bigint"))
