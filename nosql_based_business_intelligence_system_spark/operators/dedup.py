"""Deduplication operators for training-data pipelines (north-star scope).

Five strategies, cheapest first:

- exact (hash groupBy on content or content-hash)
- n-gram Jaccard (shingle explode -> shingle-key self-join -> similarity)
- MinHash + LSH banding — the scale path for fuzzy dedup: candidate
  pairs come from per-bucket doc lists (one generator shared with the
  cross-corpus form and sign-LSH embedding dedup), not O(n^2)
- SimHash (64-bit fingerprint; near-dups = small Hamming distance)
- embedding cosine near-dup (delegates to operators/similarity.py)

Scale stance: every strategy here is shuffle-bounded by the *candidate
pair* count, never O(n^2) over the corpus. Exact dedup shuffles once on the
hash; Jaccard/MinHash shuffle on shingle/band keys (skew from ultra-common
shingles is the known hazard — mitigate by dropping top-frequency shingles,
`max_docs_per_shingle`).

Every pair generator guards itself: once its input's plan size estimate
(``partitioning.plan_bytes``; no job) reaches ``PAIR_GUARD_MIN_BYTES`` —
for a two-corpus form, the larger side's — it prices its candidate-pair
volume against the scratch disk before the pair stage launches and fails
fast naming the lever that caps it (:class:`PairExplosionError`). No
caller flag or row count decides this.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from .partitioning import plan_bytes, spread


class PairExplosionError(RuntimeError):
    """A candidate-pair stage would exceed the scratch-disk budget.

    Raised BEFORE the pair shuffle launches, with the estimate and the cap
    lever in the message — the clean-error replacement for the mid-job
    ENOSPC class (r8: the dedup trio's trigram join on a 4-protected-token
    fixture filled the box's scratch disk hours into a campaign; r9
    verdict directive 4)."""


#: Conservative serialized bytes per candidate-pair shuffle row. Two 8-byte
#: ids is the uncompressed minimum; real shuffles add framing but also
#: lz4-compress and partial-aggregate, so this is deliberately the LOW end —
#: the guard is a BLAST detector (order-of-magnitude admission check, e.g.
#: the unguarded sf100 MinHash's 6.26e9 candidates = ~100 GB at this width),
#: not a precise spill model. Calibration: sf10's measured-green trigram
#: stage (2.7e9 pairs -> ~43 GB at this width) must PASS on a ~75 GB-free
#: box, the sf100 blast must FAIL.
PAIR_ROW_WIDTH = 16

#: Input plan estimate from which a pair generator runs its disk guard.
#: Registry inputs read (bytes; tools/make_sf.py for sf1): documents
#: 65,049 / 594,568 / 5,857,871, part 26,366 / 179,850 / 1,522,869,
#: embeddings 193,638 / 798,695 / 5,241,929 at sf0.01 / sf0.1 / sf1. So
#: every guard is off through sf0.1 and on from sf1: the guard's extra
#: job is measurable at fixture scale (sf0.01, off -> on CPU s:
#: dedup_ngram_jaccard 0.87 -> 1.58, part_name_near_pairs 1.48 -> 2.40)
#: and noise at scale, where the r8 ENOSPC blast happened (sf10).
PAIR_GUARD_MIN_BYTES = 1 << 20


def _guarded(*inputs: DataFrame) -> bool:
    """Whether a pair generator over ``inputs`` runs its disk guard: the
    largest input's plan estimate reaches ``PAIR_GUARD_MIN_BYTES``."""
    return max(plan_bytes(df) for df in inputs) >= PAIR_GUARD_MIN_BYTES


def _scratch_budget(spark) -> int:
    """Scratch-disk byte budget for one candidate-pair stage: the env
    override ``SPARK_GRAFT_PAIR_DISK_BUDGET`` (bytes), else the free space
    on the Spark local (shuffle/spill) directory."""
    import os
    import shutil

    env = os.environ.get("SPARK_GRAFT_PAIR_DISK_BUDGET")
    if env:
        return int(env)
    local = (
        os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
        or spark.conf.get("spark.local.dir", None)
        or None
    )
    import tempfile

    return shutil.disk_usage(local or tempfile.gettempdir()).free


def pair_guard(keyed: DataFrame, key_cols: list[str], lever: str) -> int:
    """Estimate the candidate-pair volume a bucketed self-join would emit
    and fail fast when it exceeds the scratch-disk budget.

    One cheap narrow aggregate (groupBy the bucket key -> count -> sum of
    d*(d-1)/2) — the same arithmetic the sf-ladder analyses do by hand —
    priced BEFORE the pair explode launches, so a degenerate corpus (one
    boilerplate shingle shared by 100k docs = 5e9 pairs from a single
    bucket) dies with a clear error naming the cap ``lever`` instead of
    filling the disk mid-job. Returns the byte estimate. Runs as its own
    job; call on a persisted/checkpointed frame so the keyed lineage isn't
    recomputed for the guard. The operators call it only when
    :func:`_guarded`; called directly, it always prices.
    """
    d = F.col("d")
    return _price_pairs(
        keyed.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("d")),
        d * (d - 1) / 2,
        d,
        lever,
    )


def _price_pairs(sizes: DataFrame, pairs, biggest, lever: str) -> int:
    """Sum the per-bucket ``pairs`` column over ``sizes`` (one row per
    bucket that will pair) in one 1-row job and raise
    :class:`PairExplosionError` when the pair rows would outgrow the
    scratch-disk budget (:func:`_scratch_budget`). Returns the byte
    estimate."""
    row = sizes.agg(
        F.coalesce(F.sum(pairs), F.lit(0)).alias("pairs"),
        F.coalesce(F.max(biggest), F.lit(0)).alias("biggest"),
    ).first()
    est = int(row["pairs"] * PAIR_ROW_WIDTH)
    budget = _scratch_budget(sizes.sparkSession)
    if est > budget:
        raise PairExplosionError(
            f"candidate-pair stage would emit ~{int(row['pairs']):,} pairs "
            f"(~{est / 1e9:.1f} GB at {PAIR_ROW_WIDTH} B/row) against a "
            f"{budget / 1e9:.1f} GB scratch-disk budget; largest bucket = "
            f"{int(row['biggest']):,} docs. Cap bucket size with "
            f"`{lever}` (a bucket of B docs is B*(B-1)/2 pairs; a bucket "
            "matched across two corpora, A*B), or raise "
            "SPARK_GRAFT_PAIR_DISK_BUDGET if the disk can take it."
        )
    return est


def _sh(df: DataFrame) -> DataFrame:
    """shuffle_hash join hint for data-scaled join sides.

    Joins over checkpointed/persisted frames must NEVER be
    threshold-broadcast: a ``localCheckpoint`` replaces the plan with a
    ``LogicalRDD`` whose size STATISTIC is inherited from the original
    plan's estimate, and post-aggregate/explode estimates can sit under
    ``autoBroadcastJoinThreshold`` while the materialized data is GBs —
    observed at the sf10 rehearsal, where the planner broadcast the
    16M-row banded side of the MinHash self-join (>1 GiB driver collect,
    job killed by spark.driver.maxResultSize). Estimates lie after
    checkpoints; broadcasts here must come only from explicit
    ``F.broadcast`` dims or AQE's MEASURED runtime sizes, so every
    data-scaled side below carries an explicit shuffle_hash hint."""
    return df.hint("shuffle_hash")


def shingle_rows(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(doc, n_sh, shingle) — one row per *distinct* n-word shingle, hashed
    to 64 bits, with the doc's shingle-set size carried on every row.

    Shape chosen by measurement: tokenize -> posexplode -> window ``lead``
    to form each n-gram -> multi-arg ``xxhash64`` (chained per token, so no
    separator ambiguity) -> distinct -> window count for ``n_sh``. Every
    step is JVM codegen or sort-based; the equivalent higher-order
    ``transform`` + ``concat_ws`` formulation evaluates its lambda
    interpreted per element and measured ~2.5x slower. Hash collisions are
    ~2^-64 per pair, so set sizes/intersections match string shingles.
    """
    tok = spread(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.posexplode(T.tokens(F.col(content_col))).alias("pos", "t"),
    )
    w = Window.partitionBy("doc").orderBy("pos")
    last = F.lead("t", n - 1).over(w)
    gram = F.xxhash64(*(["t"] + [F.lead("t", j).over(w) for j in range(1, n)]))
    tri = (
        tok.select("doc", gram.alias("shingle"), last.alias("__last"))
        .filter(F.col("__last").isNotNull())
        .drop("__last")
        .distinct()
    )
    return tri.select(
        "doc",
        F.count(F.lit(1)).over(Window.partitionBy("doc")).alias("n_sh"),
        "shingle",
    )


def exact_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per exact content value.

    groupBy on the content hash (not the full text) keeps shuffle rows
    narrow at 100 TB; winners join back to recover full rows.
    """
    h = F.md5(F.col(content_col)).alias("__h")
    winners = (
        df.select(h, F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(_sh(winners), [id_col], "left_semi")


def exact_dedup_summary(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row: corpus size, unique contents, removable duplicate rows."""
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(content_col).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(content_col)).alias("n_duplicates"),
    )


def shingle_doc_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_docs_per_shingle: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every pair sharing >=1 n-word shingle.

    Plan: :func:`shingle_rows` (codegen shingling, hashed keys, sizes
    carried on every row) -> materialize once -> self-join on the hash
    (shuffle key = shingle hash) -> one grouped count per pair. Carrying
    ``n_sh`` on the shingle rows removes the separate sizes aggregate and
    its two join-backs; persisting the narrow (doc, n_sh, hash) rows means
    the shingling pass runs once, not once per join side — the standard
    materialize-before-self-join pattern, ~24 bytes/shingle cached.
    ``max_docs_per_shingle`` drops degenerate ultra-common shingles before
    the join — the standard skew guard for this operator at scale.
    Past ``PAIR_GUARD_MIN_BYTES`` of input the pair volume is priced
    against the scratch-disk budget before the self-join launches
    (:func:`pair_guard`, one extra narrow aggregate over the persisted
    shingle rows).
    """
    from pyspark.storagelevel import StorageLevel

    sh = shingle_rows(df, content_col, id_col, n)
    if max_docs_per_shingle is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
        sh = (
            sh.join(_sh(freq.filter(F.col("df_") <= max_docs_per_shingle)), "shingle")
            .drop("df_")
        )
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    if _guarded(df):
        pair_guard(sh, ["shingle"], "max_docs_per_shingle")
    a = _sh(sh.alias("a"))
    b = _sh(sh.alias("b"))
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_dupes(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_docs_per_shingle: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs at/above a Jaccard threshold, deterministic
    order. ``max_docs_per_shingle`` engages shingle_doc_pairs' skew
    guard — REQUIRED at scale: one boilerplate shingle shared by d docs
    alone generates d^2/2 candidate pairs (a 10k-doc shingle is 50M
    pairs; measured 63 GB of partial-aggregate spill at sf10 without
    the guard). A pair-volume blast fails fast at scale (see
    :func:`shingle_doc_pairs`)."""
    return (
        shingle_doc_pairs(df, content_col, id_col, n, max_docs_per_shingle)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def cross_corpus_dupes(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(new_doc, seen_doc, jaccard) near-dup pairs BETWEEN two corpora —
    the incremental-crawl shape: dedupe today's batch against the corpus
    already ingested, without re-pairing the existing corpus with itself.

    Same shingle-key equi-join discipline as :func:`shingle_doc_pairs`,
    but asymmetric: shuffle is bounded by cross-corpus shingle matches
    only (the seen side's self-pairs never materialize). At 100 TB the
    seen side's shingle table is the thing you keep materialized between
    crawl batches.

    Each shingle shared by d_new new and d_seen seen docs emits
    d_new * d_seen join rows, the r8 ENOSPC blast class; past
    ``PAIR_GUARD_MIN_BYTES`` of the larger input, that sum is priced
    before the join. The operator has no bucket cap, so the lever it
    names is the capped MinHash form.
    """
    new_sh = shingle_rows(new_docs, content_col, id_col, n)
    seen_sh = shingle_rows(seen_docs, content_col, id_col, n)
    if _guarded(new_docs, seen_docs):
        # both sides feed the price and the join: the price job
        # materializes each side's checkpoint, the join re-reads it
        new_sh = new_sh.localCheckpoint(eager=False)
        seen_sh = seen_sh.localCheckpoint(eager=False)

        def sizes(sh, d):
            return sh.groupBy("shingle").agg(F.count(F.lit(1)).alias(d))

        d, d_b = F.col("d"), F.col("d_b")
        _price_pairs(
            sizes(new_sh, "d").join(_sh(sizes(seen_sh, "d_b")), "shingle"),
            d * d_b,
            F.greatest(d, d_b),
            "minhash_cross_corpus_dupes(max_docs_per_band_key=...)",
        )
    a = _sh(new_sh.alias("a"))
    b = _sh(seen_sh.alias("b"))
    return (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .groupBy(
            F.col("a.doc").alias("new_doc"),
            F.col("b.doc").alias("seen_doc"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .select(
            "new_doc",
            "seen_doc",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def mh_coefficients(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the multiply-shift MinHash
    family ``h_i(x) = a_i * x + b_i`` over WRAPPING two's-complement
    int64 (Dietzfelbinger et al.'s multiply-shift universal hashing —
    Java long arithmetic gives the mod-2^64 wrap for free, and the
    DuckDB twin emulates it exactly in HUGEINT). Coefficients derive
    from md5 of the seed (no RNG; identical on every run, engine, and
    partitioning); ``a_i`` is forced odd as the family requires."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"mh-a:{seed}:{i}".encode()).hexdigest()[:16], 16)
        b = int(hashlib.md5(f"mh-b:{seed}:{i}".encode()).hexdigest()[:16], 16)
        out.append(((a % (1 << 63)) | 1, b % (1 << 63)))
    return out


def _shingle_base_rows(
    df: DataFrame, content_col: str, id_col: str, n: int
) -> DataFrame:
    """(doc, h) — one row per distinct n-word shingle with its 60-bit
    engine-portable base hash (first 15 hex chars of md5 of the
    space-joined gram, the same scheme dsir.hash_bucket uses).

    Shingle extraction is ONE codegen regex pass, not the interpreted
    ``word_shingles`` transform (a lambda HOF evaluates per row outside
    codegen — measured 12s of the 13.3s sf10 base build; the regex path
    is 3.5s with the identical (doc, h) output set). Spaces are
    normalized first so each overlapping n-gram is captured by a
    lookahead group while the match consumes exactly one token — the
    captured gram is then byte-identical to ``concat_ws(' ', slice)``
    over the filtered token array, so every md5 (and the DuckDB twin)
    is unchanged. A posexplode + window ``lead`` formulation was also
    rejected earlier: codegen concat, but a full shuffle+sort before
    the distinct. Per-doc dedup is left to the global ``.distinct()``
    (same result set as word_shingles' array_distinct)."""
    gram_pat = "(?=((?:[^ ]+ ){%d}[^ ]+))[^ ]+(?: |$)" % (n - 1)
    norm = F.trim(F.regexp_replace(F.col(content_col), " +", " "))
    return (
        spread(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.regexp_extract_all(norm, F.lit(gram_pat), F.lit(1))
            ).alias("g"),
        )
        .select(
            "doc",
            F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Per-doc MinHash signature: array of ``num_hashes`` minimum shingle
    hashes under a universal hash family over an md5-derived base hash —
    every piece ENGINE-PORTABLE, so LSH dedup results verify against the
    DuckDB oracle (round-2 used seeded xxhash64, which no other engine
    can reproduce).

    Pure columnar: one base hash per distinct shingle, then one grouped
    agg computing all k affine-transform mins (one shuffle, narrow rows:
    id + k longs). The transforms are plain wrapping int64 multiply-adds
    — native long arithmetic in whole-stage codegen, k multiply-adds per
    shingle instead of k independent string hashes (a decimal mod-prime
    variant measured +1.1s at sf0.1 for no portability gain).

    Requires ``spark.sql.ansi.enabled=false`` (the session factory and
    ``tune_for_session`` both set it): the wrap is intentional, and ANSI
    overflow checking would raise on the multiply.
    """
    base = _shingle_base_rows(df, content_col, id_col, n)
    # Each agg column is ONE parsed F.expr, not lit*col+lit Column
    # algebra: building num_hashes expressions term-by-term in Python is
    # ~5 py4j round-trips apiece (~0.5s of DRIVER latency per query
    # build at k=64) for byte-identical plans. Long literals (`L`) keep
    # the wrapping int64 multiply exactly as F.lit did.
    sig = base.groupBy("doc").agg(
        *[
            F.expr(f"min({a}L * h + {b}L) AS m{i}")
            for i, (a, b) in enumerate(mh_coefficients(num_hashes, seed))
        ]
    )
    return sig.select(
        "doc", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig")
    )


def _band_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, band, key) LSH band rows from a (doc, sig) signature frame.

    Band key: the r-row signature slice's values as a STRUCT — struct
    equality is elementwise equality, i.e. exactly slice equality (the
    engine-portable banding criterion), without building per-row strings;
    16 bytes/key vs ~40-byte strings. The whole bands-array explode is
    ONE parsed expression (see the signature agg note in
    minhash_signatures: per-band F.struct/F.lit construction was ~200
    py4j round-trips). Not checkpointed: the rows' one consumer is the
    bucket aggregate of :func:`_lsh_candidate_pairs` (at sf100 the stored
    banded blocks measured 21.7 GB, and storing + re-reading them cost
    more than the single explode they saved)."""
    r = num_hashes // bands
    band_structs = ", ".join(
        "named_struct('band', {i}, 'key', named_struct({ks}))".format(
            i=i,
            ks=", ".join(
                f"'k{j}', element_at(sig, {i * r + j + 1})" for j in range(r)
            ),
        )
        for i in range(bands)
    )
    return sig.select(
        "doc", F.expr(f"explode(array({band_structs}))").alias("bk")
    ).select(
        "doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _lsh_candidate_pairs(
    rows: DataFrame,
    max_bucket: int | None,
    lever: str,
    guard: bool,
    cross: bool = False,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from LSH bucket rows — the one pair
    generator behind :func:`minhash_lsh_dupes`,
    :func:`minhash_cross_corpus_dupes` and
    ``similarity.embedding_cosine_dupes``.

    ``rows`` is (doc, band, key). ONE groupBy on (band, key) collects each
    bucket's sorted doc list; buckets that cannot pair (fewer than two
    docs) or exceed ``max_bucket`` (the documented recall trade, when a
    cap is set) are dropped, and only the kept lists — collision-scaled,
    ~MBs where the banded rows are corpus-scaled GBs — take the lazy
    checkpoint. With ``guard`` (the caller's :func:`_guarded` reading of
    its own input) the kept lists are priced at d*(d-1)/2 each from
    the list sizes, so the blast dies with ``lever`` named BEFORE any pair
    row exists; its 1-row job is what materializes the checkpoint. Pairs
    explode in place from each list: every later id of a sorted list,
    i.e. exactly the ``doc_a < doc_b`` pairs of a bucket whose ids are
    distinct (a caller whose ids may repeat drops the ``x, x`` pairs).

    ``cross``: ``rows`` also carries ``side`` (0 = new, 1 = seen); the
    groupBy collects one list per side, a bucket needs a doc on each side
    (and each side within the cap, matching a per-side drop), the guard
    prices d_new * d_seen, and pairs are (new doc, seen doc).

    Why lists (stage-profiled at sf100, PLANS.md r13): a (band, key)
    frequency-filter join has a bucket-COUNT-scaled build side (~155M
    mostly-singleton groups) that OOMs the probe the guard exists to
    protect; a separate count-aggregate guard is a second shuffle of the
    banded rows (3.2 GB exchange); and checkpointing the banded rows
    stores 21.7 GB that spilled 14 GB on re-read."""

    def ids(doc):
        return F.sort_array(F.collect_list(doc))

    def pairable(col, least):
        ok = F.size(col) >= least
        return ok if max_bucket is None else ok & (F.size(col) <= max_bucket)

    d = F.size("ds").cast("long")
    if cross:
        new = F.col("side") == 0
        lists = [
            ids(F.when(new, F.col("doc"))).alias("ds"),
            ids(F.when(~new, F.col("doc"))).alias("ds_b"),
        ]
        keep = pairable("ds", 1) & pairable("ds_b", 1)
        d_b = F.size("ds_b").cast("long")
        pairs, biggest = d * d_b, F.greatest(d, d_b)
        gen = (
            "flatten(transform(ds, x -> transform(ds_b, "
            "y -> named_struct('doc_a', x, 'doc_b', y))))"
        )
    else:
        lists = [ids("doc").alias("ds")]
        keep = pairable("ds", 2)
        pairs, biggest = d * (d - 1) / 2, d
        gen = (
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds) - i - 1), "
            "y -> named_struct('doc_a', x, 'doc_b', y))))"
        )
    buckets = (
        rows.groupBy("band", "key")
        .agg(*lists)
        .filter(keep)
        .drop("band", "key")
        .localCheckpoint(eager=False)
    )
    if guard:
        _price_pairs(buckets, pairs, biggest, lever)
    return buckets.select(F.explode(F.expr(gen)).alias("p")).select(
        "p.doc_a", "p.doc_b"
    )


def _est_jaccard_pairs(
    cand: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    num_hashes: int,
    jaccard_threshold: float,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for the candidate pairs ``cand`` whose
    signatures (``sig_a`` for doc_a, ``sig_b`` for doc_b — one frame for a
    self-join) agree on at least ``jaccard_threshold`` of their
    ``num_hashes`` components.

    Candidate volume, not per-stage machinery, is the MinHash operators'
    cost: at r=2 every pair of docs with baseline Jaccard s collides per
    band w.p. ~s^2, and a finite-vocabulary corpus has s~0.003 between
    GENERIC docs — sf10 measured 29.6M candidate pairs for 27k true
    dupes. The stages are therefore shaped to touch each candidate as
    cheaply as possible:
      1. no eager .distinct() on candidates — band collisions are almost
         all band-unique (29.59M distinct of 29.9M raw), so the dedup
         shuffle runs on the tiny post-filter survivor set;
      2. the agreement test runs first against a COMPACT low-byte
         signature (array<tinyint>, 64B vs the 520B bigint array): byte
         equality is implied by component equality, so byte-agreement >=
         threshold is a lossless prefilter — every true pair survives,
         and the ~1/256-per-component false-match tail is re-tested
         exactly;
      3. only survivors (~true pairs) join the full signatures for the
         exact est_jaccard — the 520B payload never rides a
         candidate-scaled shuffle (pre-r7 this was ~15GB at sf10).
    Measured sf10: 34-41s -> ~22s end-to-end, identical output. (Also
    measured and REJECTED: unrolled 64-term CASE agreement — the
    expression blows codegen and runs 7x slower interpreted.)"""

    def side(sig, tag, col, value):
        return _sh(
            sig.select(
                F.col("doc").alias(f"doc_{tag}"), value.alias(f"{col}_{tag}")
            )
        )

    def agree(col):
        return F.size(
            F.filter(
                F.zip_with(f"{col}_a", f"{col}_b", lambda x, y: x == y),
                lambda v: v,
            )
        )

    min_agree = int(math.ceil(jaccard_threshold * num_hashes))
    s8 = F.expr("transform(sig, x -> cast(x as tinyint))")
    survivors = (
        cand.join(side(sig_a, "a", "s8", s8), "doc_a")
        .join(side(sig_b, "b", "s8", s8), "doc_b")
        .filter(agree("s8") >= min_agree)
        .select("doc_a", "doc_b")
        .distinct()
    )
    pairs = survivors.join(side(sig_a, "a", "sig", F.col("sig")), "doc_a").join(
        side(sig_b, "b", "sig", F.col("sig")), "doc_b"
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        (agree("sig") / F.lit(num_hashes)).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= jaccard_threshold)


def minhash_lsh_dupes(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    signatures: DataFrame | None = None,
    max_docs_per_band_key: int | None = None,
) -> DataFrame:
    """MinHash+LSH fuzzy dedup, native DataFrame ops end to end:
    signature -> band keys (the r-row signature slices) -> candidate
    pairs from per-bucket doc lists (:func:`_lsh_candidate_pairs`) ->
    signature-agreement Jaccard estimate (:func:`_est_jaccard_pairs`).

    This is the 100 TB fuzzy-dedup path: candidates come from (band, key)
    buckets (shuffle key = (band, key)), so cost tracks true-duplicate
    density rather than corpus size squared. With r = num_hashes/bands = 2
    the candidate probability at true Jaccard s is 1-(1-s^2)^bands —
    ~0.9999 at s=0.5 — and the agreement filter removes low-similarity
    candidates.

    CANDIDATE-EXPLOSION HAZARD (sf100 rehearsal finding): at a fixed
    baseline inter-doc similarity s̄, band collisions between NON-dup
    pairs arrive at rate ~bands*s̄^r per pair — quadratic in corpus size.
    Measured: 29.6M candidates at 500k docs -> 6.26e9 at 5M docs
    (max band bucket 6,990 docs) with s̄~0.003 and r=2. Two levers for a
    deployment at that scale, both changing the recall contract and so
    left OFF for the frozen registry entry (verified through sf10):
    wider bands (r=3 via bands=21/num_hashes=63 cuts the same corpus to
    ~thousands of candidates at 0.94 recall for s=0.5), and/or
    ``max_docs_per_band_key`` — drop band buckets larger than the cap
    before pairing, the direct analog of shingle_doc_pairs'
    ``max_docs_per_shingle``: a bucket of B docs is B^2/2 pairs, and a
    multi-thousand-doc bucket at threshold-worthy similarity is
    boilerplate, not duplication. Pairs whose EVERY collision band is
    capped are lost (recall, not precision). Past ``PAIR_GUARD_MIN_BYTES``
    of ``df`` the pairs of the buckets that will pair are priced before
    the explode launches.
    Every stage (md5 base hash, universal-hash mins, band keys,
    agreement count) is engine-portable, so the registry entry is FULLY
    oracle-checked against a generated DuckDB twin; self-consistency
    tests additionally pin that exact dupes score 1.0.
    """
    # materialize the per-doc signature ONCE (shingle -> md5 -> k affine
    # mins is the expensive lineage) and reuse it THREE times: band
    # generation plus both sides of the signature fetch. Pre-r5 the
    # checkpoint sat AFTER the band explode, so the stored frame carried
    # `bands` copies of every 8*num_hashes-byte signature (32x storage);
    # banding narrow rows and joining the signatures back by doc id
    # measured ~25% faster at sf0.1 and is the shape that scales (band
    # shuffle bytes ~ docs*bands*keylen, not docs*bands*siglen).
    # ``signatures`` lets a session stage the signature frame as a
    # build-once artifact (the FAISS index split, same as the IVF cache):
    # the (doc, sig) frame is a pure function of (corpus, n, num_hashes,
    # seed), so reuse across repeat dedup runs never changes results —
    # it only skips the shingle+min pass. Caller passes an already-
    # checkpointed frame (see queries/text_suite.dedup_minhash).
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(
            df, content_col, id_col, n, num_hashes, seed
        ).localCheckpoint(eager=False)
    )
    cand = _lsh_candidate_pairs(
        _band_rows(sig, num_hashes, bands),
        max_docs_per_band_key,
        "max_docs_per_band_key",
        _guarded(df),
    )
    return _est_jaccard_pairs(cand, sig, sig, num_hashes, jaccard_threshold)


def minhash_cross_corpus_dupes(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    max_docs_per_band_key: int | None = None,
) -> DataFrame:
    """(new_doc, seen_doc, est_jaccard) MinHash-LSH near-dup pairs BETWEEN
    two corpora — the incremental-crawl shape of :func:`minhash_lsh_dupes`
    (dedupe today's batch against the ingested corpus without re-pairing
    the corpus with itself), and the 100 TB replacement for the
    trigram-shingle :func:`cross_corpus_dupes`, whose candidate stage the
    r9 disk guard priced at 2.9e11 pairs / ~4.7 TB at sf100.

    Same machinery as the self-join path — per-doc signatures
    (:func:`minhash_signatures`, identical coefficients on both sides, so
    a doc's signature is independent of which corpus it sits in), band
    rows (:func:`_band_rows`), the shared bucket-list generator
    (:func:`_lsh_candidate_pairs`) in its cross form: the two sides' band
    rows are tagged and grouped together, once, into a new list and a
    seen list per (band, key), so the seen side's self-pairs never
    materialize. At 100 TB the seen side's (doc, sig) frame is the
    artifact you keep materialized between crawl batches (pass nothing
    here — signatures are a pure function of the text, so
    recompute-vs-reuse never changes results).

    ``max_docs_per_band_key`` drops over-cap (band, key) buckets on EACH
    side before pairing — the same recall-for-survival trade as the
    guarded self-join path, mirrored in the DuckDB twin with per-side
    QUALIFY cuts. Past ``PAIR_GUARD_MIN_BYTES`` of the larger corpus,
    sum(d_new * d_seen) over matched buckets is priced before the pair
    stage launches."""
    sig_new = minhash_signatures(
        new_docs, content_col, id_col, n, num_hashes, seed
    ).localCheckpoint(eager=False)
    sig_seen = minhash_signatures(
        seen_docs, content_col, id_col, n, num_hashes, seed
    ).localCheckpoint(eager=False)
    rows = _band_rows(sig_new, num_hashes, bands).withColumn(
        "side", F.lit(0)
    ).unionByName(
        _band_rows(sig_seen, num_hashes, bands).withColumn("side", F.lit(1))
    )
    cand = _lsh_candidate_pairs(
        rows,
        max_docs_per_band_key,
        "max_docs_per_band_key",
        _guarded(new_docs, seen_docs),
        cross=True,
    )
    return _est_jaccard_pairs(
        cand, sig_new, sig_seen, num_hashes, jaccard_threshold
    ).select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("seen_doc"),
        "est_jaccard",
    )


#: SimHash fingerprint width: 60 bits — the md5-derived base hash
#: (15 hex chars, the engine-portable scheme shared with MinHash/DSIR)
#: supplies exactly 60 independent bits, and a nonneg-bigint fingerprint
#: needs no sign-bit special case in either engine.
SIMHASH_BITS = 60


def simhash_fingerprints(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash per doc via explode + grouped bit votes, over the
    engine-portable md5 base hash (DuckDB twin reproduces fingerprints
    bit-for-bit).

    The naive formulation (an array-aggregate per bit per row,
    functions.text.simhash64) produces a codegen-hostile expression tree;
    this one explodes distinct tokens (narrow -> one shuffle on the id)
    and computes the bit votes as plain grouped sums — far cheaper to
    compile and the shape that scales: shuffle rows = total distinct
    tokens.
    """
    tok = spread(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(T.tokens(F.col(content_col)))).alias("t"),
    )
    hashed = tok.select(
        "doc",
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    votes = hashed.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.getbit(F.col("h"), F.lit(b)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    fp = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        fp = fp.bitwiseOR(
            F.when(
                F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return votes.select("doc", fp.alias("fp"))


def simhash_dupes(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs: 60-bit fingerprints, banded by 15-bit chunks
    so candidate pairs share at least one exact band (pigeonhole: any pair
    within Hamming distance 3 shares a band; wider distances are best-effort
    recall, standard SimHash practice). Every stage is engine-portable,
    so the registry entry is fully oracle-checked against a generated
    DuckDB twin.

    Past ``PAIR_GUARD_MIN_BYTES`` of input the banded candidate volume is
    priced before the self-join launches (:func:`pair_guard`): the
    15-bit band space saturates — 5M docs /
    32,768 buckets x 4 bands averages ~600 docs per bucket, ~6e9
    candidate pairs at sf100 — the same blast class the r8 ENOSPC came
    from, now a clear fail-fast naming the lever instead.
    """
    guard = _guarded(df)
    fp = simhash_fingerprints(df, content_col, id_col)
    if guard:
        fp = fp.localCheckpoint(eager=False)
    bands = fp.select(
        "doc",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("fp"), 15 * i)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc", "fp", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if guard:
        pair_guard(
            bands,
            ["band", "key"],
            lever="a band-key bucket cap for simhash_dupes",
        )
    a, b = _sh(bands.alias("a")), _sh(bands.alias("b"))
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        T.hamming64(F.col("fp_a"), F.col("fp_b")).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def dedup_connected_keep_min(pairs: DataFrame, all_ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Resolve near-dup pairs to a keep-set: drop the higher id of every pair
    (single-pass approximation of connected components — adequate when
    duplicate clusters are small; :func:`connected_components` gives the
    full transitive closure and cluster ids)."""
    drop = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return all_ids.join(_sh(drop), [id_col], "left_anti")


#: Edge-count ceiling for the driver-side union-find fast path in
#: :func:`connected_components`. 500k (u, v) tuples is a few MB of driver
#: memory; the bound is checked against a MEASURED count of the
#: materialized edge base, never an estimate.
_SMALL_GRAPH_EDGE_CAP = 500_000


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    small_graph_cap: int = _SMALL_GRAPH_EDGE_CAP,
) -> DataFrame:
    """Transitive closure of near-dup pairs: (node, component) where the
    component id is the minimum node id reachable through the pair graph.

    Two execution paths, identical output by construction:

    * **Small-graph fast path** (edge count ≤ ``small_graph_cap``,
      measured, never estimated): driver-side union-find — exact closure
      in one bounded collect. ``max_iterations`` does not apply here; the
      closure is computed directly, not iterated. Pass
      ``small_graph_cap=0`` to force the distributed path.
    * **Distributed path** (the iterative-algorithm case of the driver
      contract — not SQL-expressible): label propagation where each round
      every node adopts the smallest label among itself and its neighbors
      (one hop), then *shortcuts* by adopting its current label's own
      label (pointer jumping). The hop alone moves the minimum one edge
      per round — Θ(D) rounds on a diameter-D chain; the shortcut roughly
      doubles the reach per round, giving O(log D) once the min is inside
      the component's label tree. Each round is two joins + one grouped
      min (shuffles on node); ``localCheckpoint`` truncates the growing
      lineage so round N doesn't replay rounds 1..N-1. Stops early when a
      round changes no label; raises RuntimeError if ``max_iterations``
      distributed rounds still left labels changing — a silently-partial
      closure is a wrong answer. ``max_iterations`` bounds ONLY this
      distributed iteration.
    """
    # materialize the pair plan ONCE before mirroring it: the union needs
    # both directions, and without this the (possibly expensive) candidate-
    # generation plan executes once per direction and again per round
    base = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).localCheckpoint(eager=True)
    n_edges = base.count()
    # Small-graph fast path: below the cap, solve the closure with a
    # driver-side union-find instead of 3+ distributed rounds of 3 joins
    # each — on a 96-edge dictionary graph the iterative path is ~2s of
    # pure job-scheduling overhead vs ~0.1s here. The collect is BOUNDED
    # by the measured edge count we already have (the same certainty the
    # quantizer-training sample relies on): 500k edge tuples is a few MB
    # on the driver. Above the cap the distributed iteration runs
    # unchanged — the dup graph of a 100 TB corpus does not fit a
    # driver. Identical output by construction: component id = min
    # reachable node; Python's str ordering (code points) matches
    # Spark's UTF8 binary ordering because UTF-8 byte order preserves
    # code-point order, and numeric ids compare identically.
    if n_edges <= small_graph_cap:
        spark = pairs.sparkSession
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in base.collect():
            u, v = row[0], row[1]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[rv] = ru
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        from pyspark.sql.types import StructField, StructType

        node_type = base.schema[0].dataType
        schema = StructType(
            [
                StructField("node", node_type, False),
                StructField("comp", node_type, False),
            ]
        )
        return spark.createDataFrame(
            [(n, comp_min[find(n)]) for n in sorted(parent)], schema
        )
    edges = base.unionByName(
        base.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    # right-size the iteration: the edge set is usually orders of magnitude
    # smaller than the corpus that produced it, and per-round task overhead
    # at the corpus's shuffle width dominates tiny graphs. ~500k edges per
    # partition; the count is cheap (it reads the materialized base).
    n_part = max(1, min(int(n_edges * 2 / 500_000) + 1, 2048))
    edges = edges.repartition(n_part, "v").localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    changed = 1
    for _ in range(max_iterations):
        # edge/label grains scale with the duplicate graph: estimate-based
        # broadcast is forbidden on every iteration join (see _sh)
        neighbor_min = (
            edges.join(_sh(labels), edges.v == labels.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        hop = labels.join(_sh(neighbor_min), "node", "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
            (F.coalesce(F.col("nbr_comp"), F.col("comp")) < F.col("comp")).alias(
                "__chg"
            ),
        )
        # pointer jump: comp <- label(comp). Every comp value is a node id,
        # so the self-join always matches; coalesce guards the general case.
        parents = hop.select(
            F.col("node").alias("__pnode"), F.col("comp").alias("__pcomp")
        )
        updated = (
            hop.join(_sh(parents), hop.comp == parents.__pnode, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("__pcomp"), F.col("comp"))
                ).alias("comp"),
                (
                    F.col("__chg")
                    | (F.coalesce(F.col("__pcomp"), F.col("comp")) < F.col("comp"))
                ).alias("__chg"),
            )
        ).localCheckpoint(eager=False)
        # the changed-count action below MATERIALIZES the lazy checkpoint —
        # one job per round instead of eager-checkpoint + count (two)
        changed = updated.filter(F.col("__chg")).limit(1).count()
        labels = updated.drop("__chg")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds; "
            "labels are still propagating (very long chain?). Re-run with a "
            "higher max_iterations."
        )
    return labels


# --- duplicated-span removal (Lee et al. 2021, chunk approximation) ----------


def _span_rows(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """One row per non-overlapping k-token span: (doc, pos, span, nd, keep).

    ``nd`` is the number of distinct docs the span's exact content occurs
    in; ``keep`` is False only for repeated occurrences (the globally first
    (doc, pos) occurrence of a cross-doc-duplicated span survives, matching
    dedup-keeps-one-copy semantics rather than boilerplate-strip-all).

    Scale shape: tokenize + chunk are narrow; the duplicate census is ONE
    groupBy on the span's md5 (128-bit, collision-safe at 100 TB span
    counts where 64-bit birthday-collides); flagging is a key-partitioned
    join back on that hash. No self-join, no O(n^2) anywhere.
    """
    toks = df.select(
        F.col(id_col).alias("doc"), T.tokens(F.col(content_col)).alias("toks")
    )
    n_spans = F.ceil(F.size("toks") / F.lit(float(k))).cast("int")
    # sequence(0, -1) would infer step -1 for empty docs -> guard explicitly.
    idx = F.when(F.size("toks") > 0, F.sequence(F.lit(0), n_spans - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunked = toks.withColumn(
        "chunks",
        F.transform(
            idx, lambda i: F.array_join(F.slice("toks", i * k + 1, k), " ")
        ),
    )
    # posexplode_OUTER + a null filter on the GENERATOR OUTPUT, not inner
    # posexplode: the inner form makes the optimizer infer
    # ``size(chunks) > 0 AND isnotnull(chunks)`` and push it below the
    # Generate BY SUBSTITUTION — the full chunk transform (tokenizer
    # inside its lambda included) lands inlined in a per-row Filter, so
    # every doc paid the tokenize+chunk work twice per consumer and the
    # split re-ran per element inside the substituted lambda (caught by
    # the r13 ``hof_reeval`` doctor rule; the r12 lm.py class). A filter
    # on ``span`` cannot be pushed below the Generate, and outer explode
    # of an empty array yields exactly one all-null row, so dropping
    # null spans reproduces inner-explode semantics bit-for-bit.
    ex = (
        chunked.select("doc", F.posexplode_outer("chunks").alias("pos", "span"))
        .filter(F.col("span").isNotNull())
        .withColumn("h", F.md5("span"))
    )
    census = ex.groupBy("h").agg(
        F.countDistinct("doc").alias("nd"),
        F.min(F.struct("doc", "pos")).alias("__keeper"),
    )
    return ex.join(_sh(census), "h").select(
        "doc",
        "pos",
        "span",
        "nd",
        (
            (F.col("nd") < 2) | (F.struct("doc", "pos") == F.col("__keeper"))
        ).alias("keep"),
    )


def span_dedup(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """Per-doc duplicated-span removal: cut each doc into non-overlapping
    k-token spans, drop every repeated occurrence of a span whose exact
    content appears in >= 2 distinct docs (first (doc, pos) occurrence is
    kept), and reassemble survivors in document order.

    Chunk-approximation of suffix-array span dedup from "Deduplicating
    Training Data Makes Language Models Better" (Lee et al., 2021) -- exact
    on aligned duplicates (exact-dup and copy-with-local-edit docs), which
    is the overwhelming duplicate class in web corpora.

    Returns (doc_id, n_spans, n_removed_spans, kept_text) for EVERY input
    doc (empty/whitespace docs included, with 0 spans and '' text).
    """
    flags = _span_rows(df, content_col, id_col, k)
    per_doc = flags.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum((~F.col("keep")).cast("bigint")).alias("n_removed_spans"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "span"))
                    )
                ),
                lambda s: s["span"],
            ),
            " ",
        ).alias("kept_text"),
    )
    return (
        df.select(F.col(id_col))
        .join(_sh(per_doc), F.col(id_col) == F.col("doc"), "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_removed_spans", F.lit(0)).alias("n_removed_spans"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


def span_dedup_summary(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """One row: corpus-level span-dedup census — total spans, distinct
    spans, removed occurrences, docs losing at least one span, and exact
    chars removed (sum of removed span lengths)."""
    flags = _span_rows(df, content_col, id_col, k)
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.countDistinct("span").alias("n_distinct_spans"),
        F.sum((~F.col("keep")).cast("bigint")).alias("n_removed_spans"),
        F.countDistinct(F.when(~F.col("keep"), F.col("doc"))).alias(
            "n_docs_affected"
        ),
        F.coalesce(
            F.sum(F.when(~F.col("keep"), F.length("span")).cast("bigint")),
            F.lit(0),
        ).alias("chars_removed"),
    )
