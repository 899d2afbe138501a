"""Corpus language-model quality scoring (CCNet-style perplexity filter).

Web-scale curation pipelines rank documents by perplexity under a reference
language model and drop/down-weight the tail (Wenzek et al. 2020, CCNet;
the same signal backs quality buckets in most LLM data recipes). The
engine's version scores each document under the corpus's OWN bigram model
— no external model artifact, one extra aggregation pass — which is the
standard bootstrap when no curated reference corpus exists yet.

Model: add-one-smoothed bigram LM over whitespace tokens,
``p(cur | prev) = (c(prev,cur) + 1) / (c(prev) + V)``; per-doc
cross-entropy is ``-avg(ln p)`` over the doc's bigrams and perplexity is
its exp. Everything is counts + joins:

- ONE explode -> grouped count producing BOTH tables at once (bigram
  records plus one (last_token, NULL) record per doc; unigram counts are
  recovered exactly as a re-aggregation of the bounded table),
- one scoring pass joining each doc bigram to the folded model table.

Count tables are vocabulary-sized (<< corpus at any scale); the scoring
join broadcasts the MATERIALIZED model while its actual bytes fit the
operator cap, making the scoring pass a single fused map stage with no
corpus shuffle. No UDF, no unbounded collect, no iteration.

Results are rounded to 6 decimals ON BOTH ENGINES: cross-entropy sums libm
logs, which differ from the JVM's in the last ulp (same discipline as the
stats-suite moments; cf. doc_rarity_scores' log-free design note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from .partitioning import plan_bytes, spread

#: Memory-size cap for broadcasting the materialized bigram model in the
#: scoring join. This is an OPERATOR-level decision, deliberately larger
#: than the engine's 64m dimension-table threshold: the alternative to
#: broadcasting the model is shuffling the CORPUS (sf100 measured: 3.1GB
#: of exploded bigrams written + 2.7GB of joined rows re-shuffled for the
#: per-doc agg — 5.8GB of exchange the broadcast shape never
#: materializes), so a few hundred MB of broadcast is the cheap side of
#: the trade. The stats come from the checkpoint's actual block sizes
#: (deserialized), not an estimate; a real web corpus's bigram model
#: (tens of GB) exceeds the cap and falls back to a shuffle_hash join.
BROADCAST_MODEL_MAX_BYTES = 512 << 20


def ckpt_actual_bytes(df: DataFrame) -> int | None:
    """ACTUAL storage bytes (memory + disk) of a localCheckpoint'd
    DataFrame's blocks, from the block manager's RDD storage info.

    Catalyst's stats for a LogicalRDD are the ORIGIN plan's estimates,
    not the materialized size — for an aggregate over an exploded corpus
    the estimate scales with the corpus and crosses any broadcast
    threshold at some sf even when the real table is a few MB (measured:
    the dsir sf100 scoring join silently degraded to sort-merge, 2GB of
    exploded-gram shuffle, while the model's real blocks were 7.2MB).
    Returns None when the frame is not a materialized checkpoint root.

    Reads only this RDD's blocks: per block manager, its disk bytes and
    the memory bytes of each of its partitions, so the number of JVM
    calls depends on this frame alone, not on how many other RDDs are
    persisted (walking ``getRDDStorageInfo`` did)."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getSimpleName() != "LogicalRDD":
            return None
        rdd = node.rdd()
        rid, n = rdd.id(), rdd.getNumPartitions()
        sc = df.sparkSession.sparkContext
        block_id = sc._jvm.org.apache.spark.storage.RDDBlockId
        total, cached = 0, False
        for st in sc._jsc.sc().env().blockManager().master().getStorageStatus():
            total += int(st.diskUsedByRdd(rid))
            for i in range(n):
                blk = st.getBlock(block_id(rid, i))
                if blk.isDefined():
                    cached = True
                    total += int(blk.get().memSize())
    except Exception:
        return None
    return total if cached else None


def token_bigrams(toks: Column) -> Column:
    """(prev, cur) struct per adjacent token pair — transform over an index
    sequence, no explode until the caller needs rows. Empty for size < 2
    (``sequence(1, 0)`` would descend; guard like word_shingles)."""
    pair = lambda i: F.struct(  # noqa: E731
        F.element_at(toks, i).alias("prev"),
        F.element_at(toks, i + F.lit(1)).alias("cur"),
    )
    return F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1), pair),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))


def doc_lm_scores(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_bigrams, cross_entropy, perplexity) under the corpus's own
    add-one bigram model. Lower = more typical of the corpus; documents
    with fewer than two tokens carry NULL scores (no bigrams to average).

    The scoring join broadcasts the materialized model while its ACTUAL
    checkpoint bytes fit ``BROADCAST_MODEL_MAX_BYTES`` — the zero-
    corpus-shuffle shape (see the model comment below). Past the cap the
    join is hinted shuffle_hash: unhinted, the planner picks SortMergeJoin
    and SORTS the corpus-scaled bigram relation (measured sf100, r12
    single-join shapes: 82.4s SMJ vs 72.6s shuffle_hash vs 63.7s
    broadcast, values identical). Only a model past the cap reaches that
    branch, so no bench-scale plan carries the hint.
    """
    df = spread(df, id_col)
    # Two corpus tokenize passes TOTAL, zero corpus-scale materialization
    # (r12; the r11 shape eagerly checkpointed the full token-ARRAY frame
    # to kill a duplicate-tokenize race, which halved CPU but LOST wall at
    # every scale — sf0.1 0.94->1.12s, sf100 67.5->83.4s — because
    # serializing 5M docs of array<string> into block storage costs more
    # than the recompute it saved):
    #
    #   pass 1 (model build): ONE tokenize pass emits the doc's bigrams
    #     PLUS one (last_token, NULL) record — n rows per n-token doc, not
    #     2n-1 — then one grouped count -> the combined count table, which
    #     is VOCABULARY-scaled (<< corpus). Unigram counts come back
    #     EXACTLY as groupBy(prev).sum(c) over that bounded table: every
    #     token occurrence appears exactly once as a ``prev`` (tokens
    #     t1..tn-1 in the bigrams, tn in the last-token record). THAT
    #     bounded frame takes the EAGER barrier — the
    #     dsir.importance_weights pattern — so the vocab broadcast
    #     subquery and AQE's runtime broadcast conversions (the concurrent
    #     first consumers of the r11 race class) replay cheap checkpoint
    #     blocks, never the corpus. (Deriving uni/big by FILTERING one
    #     un-checkpointed counts plan does not work: Catalyst pushes the
    #     cur-IS-NULL filters below the aggregate, the three exchanges
    #     stop being identical, ReuseExchange is structurally defeated,
    #     and the corpus is tokenized 3x — measured 1.88s vs 1.15s at
    #     sf0.1.)
    #   pass 2 (scoring): its own single tokenize lineage with exactly one
    #     consumer — explode -> count-table joins -> per-doc agg is one
    #     linear plan, so the corpus stage cannot race itself.
    #
    # NOTE: the eager barrier makes CONSTRUCTING this DataFrame run the
    # model-build job (fn() is not lazy); plan-inspection tooling pays one
    # bounded-output corpus pass at build time.
    #
    # The token array is PROJECTED as a real column in each pass rather
    # than inlined as an expression: token_bigrams/last_rec reference the
    # array many times (size, sequence bounds, element_at inside the
    # transform lambda), codegen's subexpression elimination does not
    # reach into higher-order-function lambdas, and an inlined ``toks``
    # re-runs the split+filter tokenizer per reference — measured sf10: the
    # count map stage is 475s CPU inlined vs 78s projected (CollapseProject
    # keeps the projection because a non-cheap expression with multiple
    # consumer references is not inlined).
    toked = df.select(
        F.col(id_col), T.tokens(F.col(content_col)).alias("__toks")
    )
    toks = F.col("__toks")
    last_rec = F.when(
        F.size(toks) >= 1,
        F.array(
            F.struct(
                F.element_at(toks, -1).alias("prev"),
                F.lit(None).cast("string").alias("cur"),
            )
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    counts = (
        toked.select(
            F.explode(F.concat(token_bigrams(toks), last_rec)).alias("r")
        )
        .select(F.col("r.prev").alias("prev"), F.col("r.cur").alias("cur"))
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    uni = counts.groupBy(F.col("prev").alias("w")).agg(F.sum("c").alias("cp"))
    # Vocabulary size as a LITERAL, not a 1-row broadcast subquery: counts
    # is already materialized (eager checkpoint above), so this collect is
    # a bounded (1-row) agg over checkpoint blocks — and folding it into
    # the plan removes the BroadcastNestedLoopJoin + its per-execution
    # broadcast-build job from the scoring pass entirely (measured sf0.1:
    # the leftover broadcast/job residue of the subquery shape taxed the
    # NEXT queries in a shared session ~+1s across the 20-query bench;
    # see PLANS.md r12). Value-identical: v enters logp as the same
    # bigint addend either way.
    v_count = uni.agg(F.count(F.lit(1)).alias("v")).collect()[0]["v"]
    big = counts.filter(F.col("cur").isNotNull()).select(
        "prev", "cur", F.col("c").alias("cb")
    )
    pairs = toked.select(
        F.col(id_col), F.explode_outer(token_bigrams(toks)).alias("bg")
    ).select(id_col, F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))

    logp = F.log(F.col("cb") + F.lit(1.0)) - F.log(
        F.col("cp") + F.lit(v_count)
    )
    # Fold c(prev) into the bigram table BEFORE the corpus join: both
    # sides are bounded (checkpoint-derived), so this inner join is
    # vocabulary-scaled — and the corpus-side scoring then probes ONE
    # table instead of two (every non-null (prev, cur) in pairs exists in
    # big by construction: it was counted from the same corpus, so the
    # single left join loses nothing). The joined model takes its OWN
    # eager checkpoint: a LogicalRDD carries a real sizeInBytes, so the
    # planner's broadcast decision on the scoring join is made STATICALLY
    # against the actual model size — and when it broadcasts, the scoring
    # pass never shuffles the corpus at all: pairs keep the spread's
    # id-hash partitioning, the probe fuses into the tokenize stage, and
    # groupBy(id) needs no exchange (measured sf100: the SMJ/SHJ shapes
    # shuffle-write 4.3GB of exploded bigrams + 1.8GB of joined rows that
    # the broadcast shape never materializes). A filter/agg DERIVED from
    # the counts checkpoint does not get this: join-size estimation
    # without column stats blows up and the planner falls back to sort-
    # merge (the r12 proj-variant stage table in PLANS.md). Threshold-
    # decided, never forced: a real web corpus's bigram table can exceed
    # any broadcast budget, in which case the join is hinted shuffle_hash
    # (sf100: 72.6s shuffle_hash vs 82.4s SMJ).
    model = big.join(uni.withColumnRenamed("w", "prev"), "prev").localCheckpoint(
        eager=True
    )
    msize = ckpt_actual_bytes(model)
    if msize is None:
        msize = plan_bytes(model)
    if msize <= BROADCAST_MODEL_MAX_BYTES:
        model = F.broadcast(model)
    else:
        model = model.hint("shuffle_hash")
    scored = (
        pairs.join(model, ["prev", "cur"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.col("prev")).alias("n_bigrams"),
            F.round(-F.avg(F.when(F.col("prev").isNotNull(), logp)), 6).alias(
                "cross_entropy"
            ),
        )
        .withColumn(
            "perplexity", F.round(F.exp(F.col("cross_entropy")), 6)
        )
    )
    return scored
