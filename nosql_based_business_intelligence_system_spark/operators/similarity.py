"""Similarity search over embedding columns (north-star scope).

- brute_force_topk: exact top-k neighbours of a small query set. The
  query side broadcasts and the corpus never shuffles; O(|Q| x |C|).
- rp_bucket_topk: approximate top-k from bucketed random projections
  (E2LSH on md5-derived +-1 planes): candidates share a (table, key)
  bucket with the query.
- ivf_assign / ivf_topk: IVF-Flat. Each vector is assigned to the
  nearest of K deterministic centroids; a query probes only its nearest
  cells.
- pq_train_encode / pq_topk: product quantization with asymmetric
  (ADC) scoring over m-byte codes, optionally reranked exactly.
- semantic_dedup_pairs / semantic_dedup_keep: SemDeDup near-duplicates
  within IVF cells.
- cosine_pairs / embedding_cosine_dupes: exact (bounded) and sign-LSH
  near-duplicate pairs.

Select, then rescore: wherever numpy scores vectors it only SELECTS
candidates, a superset of the answer kept within ``_CAND_EPS`` of a cut.
The emitted scores (and the final cut or rank) are always the same
Spark fold expressions the pure-expression plan uses, so both plans emit
identical values. Two kernels hold that numpy side: ``_select_topk``, the
per-batch top-k of brute force, RP-LSH and PQ-ADC, and ``_propose_cells``,
the nearest-centroid proposal of IVF assignment and PQ encoding. Each
operator picks its tier itself: RP-LSH takes the Arrow tier whenever the
selector accepts; brute force and PQ take it once the corpus plan's size
estimate reaches ``partitioning.LARGE_INPUT_BYTES`` (``is_large``): below
it the Arrow pass's fixed cost (query collect, broadcast, Python workers,
a rescore stage) loses to the expression plan, while at sf100 the
expression pair stage runs in the bytecode interpreter; nearest-cell
assignment past ``_NEAREST_CELL_ARROW_K`` centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from .dedup import _guarded, _lsh_candidate_pairs, _sh
from .partitioning import is_large, spread

#: The Arrow top-k selector collects and broadcasts the query side; past
#: this many query rows it declines and the operator keeps its expression
#: plan, which never materializes the query side on the driver.
BF_TOPK_MAX_QUERIES = 10_000

#: Candidate slack: numpy's SIMD-pairwise dot accumulates in a different
#: order than the emitted fold-expression score, so candidates are found at
#: ``threshold - EPS`` and the exact filter happens on the fold score.
_CAND_EPS = 1e-9

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Ranks 1..k of ``scored`` (query_id, neighbor_id, score) per query:
    score descending (NULL last, NaN first, as Spark orders doubles),
    ties to the lower neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


def _cosines(a, qmat, qn):
    """(rows x queries) numpy cosine matrix; 0/0 and x/0 give NaN/inf."""
    import numpy as np

    an = np.sqrt(np.einsum("ij,ij->i", a, a))
    with np.errstate(divide="ignore", invalid="ignore"):
        return (a @ qmat.T) / np.outer(an, qn)


def _select_topk(stream, queries, k, prep, score, payload, rescore):
    """Arrow tier of the top-k operators: per-batch candidate selection
    in numpy, then the operator's exact expression re-scores survivors.

    ``stream`` is the corpus side (``id`` plus what ``score`` reads);
    ``queries`` is the query side (``query_id`` plus what ``prep`` and
    ``rescore`` read). Returns None, declining, when either id is not
    integral (ids ride Arrow as int64) or the query side has more than
    ``BF_TOPK_MAX_QUERIES`` rows; the caller then keeps its expression
    plan. Otherwise the query rows are collected, ``prep(rows)`` packs
    them for one broadcast, and each Arrow batch calls
    ``score(pdf, ids, qids, packed)`` for the (rows x queries) score
    matrix, the eligible mask, a force-keep mask (or None) and the
    ``payload`` columns as a pandas frame, one row per batch row.

    Per query, a batch keeps every eligible row within ``_CAND_EPS`` of
    its k-th best finite score plus the force-kept rows, or every
    eligible row when fewer than k scores are finite (NaN and ineligible
    scores count as -inf). The union over batches is a superset of each
    query's top k, so ``rescore`` (a Column over the payload joined to
    the broadcast query side) and the top-k window emit exactly what the
    expression plan emits.
    """
    import numpy as np

    if dict(stream.dtypes).get("id") not in _INTEGRAL or (
        dict(queries.dtypes).get("query_id") not in _INTEGRAL
    ):
        return None
    rows = queries.limit(BF_TOPK_MAX_QUERIES + 1).collect()
    if len(rows) > BF_TOPK_MAX_QUERIES:
        return None
    spark = stream.sparkSession
    if not rows:
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, score double, rank bigint"
        )
    qids = np.array([r["query_id"] for r in rows], dtype="int64")
    b = spark.sparkContext.broadcast((qids, prep(rows)))

    def gen(batches):
        bqids, packed = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            aid = pdf["id"].to_numpy()
            s, eligible, force, pay = score(pdf, aid, bqids, packed)
            s = np.where(np.isnan(s) | ~eligible, -np.inf, s)
            keep = []
            for j in range(len(bqids)):
                col = s[:, j]
                if int(np.isfinite(col).sum()) >= k:
                    kth = np.partition(col, len(col) - k)[len(col) - k]
                    hit = col >= kth - _CAND_EPS
                    if force is not None:
                        hit |= force[:, j]
                    keep.append(np.flatnonzero(hit))
                else:
                    keep.append(np.flatnonzero(eligible[:, j]))
            idx = np.concatenate(keep)
            out = pay.iloc[idx].reset_index(drop=True)
            out.insert(0, "neighbor_id", aid[idx])
            out.insert(0, "query_id", np.repeat(bqids, [len(x) for x in keep]))
            yield out

    cands = stream.mapInPandas(
        gen, f"query_id long, neighbor_id long, {payload}"
    )
    return _topk(
        cands.join(F.broadcast(queries), "query_id").select(
            "query_id", "neighbor_id", rescore.alias("score")
        ),
        k,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query vector (excluding self-matches).

    Output: query_id, neighbor_id, score, rank (1..k). The query side is
    broadcast; ranking shuffles only (n_queries x corpus) scored rows
    pre-filtered to the window partition key — with AQE the skew risk is nil
    because query_id cardinality = |Q|. ``dim`` unrolls the O(|Q| x corpus)
    scoring kernel into codegen arithmetic (see functions.vectors.dot) —
    same doubles as the fold; pass it when known (a probe job costs more
    than it saves on small corpora), else it's probed from one corpus row.

    Cosine with a known ``dim`` over a corpus whose plan estimate reaches
    ``LARGE_INPUT_BYTES`` takes the Arrow tier (:func:`_select_topk`). At
    that scale the 64-term unrolled dot generates a codegen method past
    HotSpot's huge-method limit, so the expression pair stage runs in the
    bytecode interpreter (~5.7us/pair; sf100, 2M corpus x 5 queries: 57s
    against ~2s). Each batch scores against the broadcast query matrix
    with one matmul; the survivors are re-scored with the expression
    tier's own fold, so values and ranks are identical. Both tiers rank
    like Spark: a NULL vector's NULL score ranks LAST, while a non-NULL
    vector with a NaN COMPONENT scores NaN, which Spark orders above any
    value, so it ranks FIRST. The selector keeps NULL-vector rows only
    when a batch has fewer than k finite candidates and always keeps
    NaN-component rows; those carry a flag alongside the vector because
    the pandas->Arrow boundary masks a NaN element inside an emitted list
    to null, and the rescore re-creates their NaN score as a literal.

    UNIFORM-DIM CONTRACT (applies to every unrolled ANN path: this,
    ivf_topk, semantic_dedup_*): every vector must have exactly the
    probed/passed length. A shorter vector yields NULL getItem terms, so
    its score is NULL and it silently drops out of the ranking (the
    dim=None fold instead sums whatever elements exist). Ragged corpora
    are unsupported here by contract — validate or pad upstream, or call
    with an explicit ``dim=None`` to get fold semantics.
    """
    import numpy as np

    if dim is None:
        probe = corpus.select(vec_col).first()
        dim = len(probe[0]) if probe and probe[0] is not None else None
    # Norms are per-ROW, not per-pair (same doubles as per-pair cosine:
    # identical ops on identical operands in the same left-assoc order).
    q = queries.select(
        F.col(id_col).alias("query_id"), V.as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", V.norm("qv"))
    if metric == "cosine" and dim is not None and is_large(corpus):

        def prep(rows):
            # a NULL query vector becomes a NaN row: its scores are all
            # NaN, so every non-self row is kept and the rescore gives
            # NULL scores, as the expression tier does
            qmat = np.array(
                [r["qv"] if r["qv"] is not None else [np.nan] * dim
                 for r in rows],
                dtype="float64",
            )
            return qmat, np.sqrt(np.einsum("ij,ij->i", qmat, qmat))

        def score(pdf, aid, qids, packed):
            import pandas as pd

            isnull = np.array([v is None for v in pdf["v"]], dtype=bool)
            a = np.vstack([
                np.full(dim, np.nan) if n else np.asarray(v, dtype="float64")
                for v, n in zip(pdf["v"], isnull)
            ])
            had_nan = np.isnan(a).any(axis=1) & ~isnull
            eligible = aid[:, None] != qids[None, :]
            pay = pd.DataFrame({"cv": pdf["v"].to_numpy(), "had_nan": had_nan})
            return _cosines(a, *packed), eligible, had_nan[:, None] & eligible, pay

        # qn-null guard: a NULL query vector makes the expression tier's
        # score NULL even against a NaN-component row
        d = F.col("qn") * V.norm("cv", dim)
        rescore = F.when(
            F.col("had_nan") & F.col("qn").isNotNull(), F.lit(float("nan"))
        ).otherwise(F.when(d > 0, V.dot("qv", "cv", dim) / d))
        stream = spread(corpus, id_col).select(
            F.col(id_col).alias("id"), V.as_double(F.col(vec_col)).alias("v")
        )
        res = _select_topk(
            stream, q, k, prep, score, "cv array<double>, had_nan boolean",
            rescore,
        )
        if res is not None:
            return res
    # parallelism guard: the O(|Q| x corpus) scoring + per-partition
    # top-k sort run at the SCAN's parallelism — a single sub-128MB
    # embedding file executes the whole pair stage on one task (sf10:
    # 19.5s single-core); spread is a no-op once input splits >= cores
    c = spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"), V.as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", V.norm("cv", dim))
    if metric == "cosine":
        d = F.col("qn") * F.col("cn")
        score = F.when(d > 0, V.dot("qv", "cv", dim) / d)
    else:
        score = -V.euclidean("qv", "cv", dim)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    return _topk(scored, k)


def _rp_keys_seq(mat, planes, bucket_length: float):
    """Bucket keys for a (n, dim) float64 matrix by SEQUENTIAL d-loop
    accumulation — ``acc = acc + v[:, d] * plane[d, :]`` performs the
    identical IEEE-754 double ops in the identical left-to-right order as
    the fold expression ``0.0 + v[0]*p0 + v[1]*p1 + ...``, so every
    projection (and floor key) is bit-identical to the expression plan
    (a matmul would reassociate the sum and could flip a floor)."""
    import numpy as np

    acc = np.zeros((mat.shape[0], planes.shape[1]), dtype="float64")
    for d in range(planes.shape[0]):
        acc = acc + mat[:, d : d + 1] * planes[d, :]
    return np.floor(acc / float(bucket_length)).astype("int64")


def rp_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_tables: int = 8,
    bucket_length: float = 4.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via deterministic bucketed random projections —
    the E2LSH scheme, on md5-derived Rademacher planes so a second
    engine can replay it.

    Per table ``t``: key = floor(dot(v, plane_t) / bucket_length); a
    corpus row is a candidate for a query iff they share a (table, key)
    bucket. Exact cosine is computed on candidates only and the final
    rank uses the exact score, so bucketing affects recall, never an
    emitted value. Gaussian planes drawn from a JVM RNG (spark.ml's
    BucketedRandomProjectionLSH) are replayable by no other engine;
    Achlioptas-style +-1 planes give the same LSH family guarantee with
    every entry an md5 literal (:func:`sign_planes`), which is what makes
    the ann_lsh_topk registry query hash-verifiable against a generated
    DuckDB twin. Tune ``bucket_length`` down / ``n_tables`` up for
    sparser buckets at scale.

    Arrow tier, taken whenever :func:`_select_topk` accepts (integral
    ids, at most BF_TOPK_MAX_QUERIES queries): ONE corpus pass. The
    broadcast query side carries its bucket keys; each corpus batch
    computes its own keys with a SEQUENTIAL d-loop of vectorized
    multiply-adds, the identical IEEE-754 op order as the fold
    expression, so every projection (and floor key) is bit-identical BY
    CONSTRUCTION, not epsilon-close. Pairs that share no bucket are
    masked out and the selector keeps each query's near-k-th-best
    candidates for the exact fold cosine (pin-tested end-to-end against
    the expression tier, incl. a planted floor-boundary corpus). Measured
    against the expression tier's bucket equi-join + candidate
    ``.distinct()``, which shuffles two full vectors per candidate row:
    sf0.01 1.28s -> 0.58s wall, sf100 59.7-99.7s -> 1.8s.

    Expression tier (string ids, or a query side past the budget): the
    projection is a fold EXPRESSION, 0.0 + v[0]*p0 + v[1]*p1 + ...,
    accumulating left-to-right exactly like the twin's inlined
    (+v[1]-v[2]...) sum; candidates come from a bucket equi-join.

    NaN COMPONENTS are out-of-contract for this operator (unlike
    brute_force_topk, which reproduces Spark's NaN-first ranking): a NaN
    projection's bucket key is engine-undefined on BOTH plans — Java
    ``floor(NaN)`` casts to 0 while numpy ``astype('int64')`` of NaN is
    INT64_MIN — so there is no single candidate set to preserve.
    Validate or impute NaN-bearing vectors upstream.
    """
    import numpy as np

    planes = sign_planes(seed, dim, n_tables)

    def _dim_check(vals):
        bad = [
            "NULL" if v is None else str(len(v))
            for v in vals
            if v is None or len(v) != dim
        ]
        if bad:
            raise ValueError(
                f"rp_bucket_topk: expected dim={dim}, got {bad[0]}"
            )

    def prep(rows):
        _dim_check([r["qv"] for r in rows])
        qmat = np.array([r["qv"] for r in rows], dtype="float64")
        qn = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
        return qmat, qn, _rp_keys_seq(qmat, planes, bucket_length)

    def score(pdf, aid, qids, packed):
        import pandas as pd

        qmat, qn, qkeys = packed
        _dim_check(list(pdf["v"]))
        a = np.vstack([np.asarray(v, dtype="float64") for v in pdf["v"]])
        keys = _rp_keys_seq(a, planes, bucket_length)
        # candidate iff ANY table key matches — exactly the bucket
        # equi-join + distinct of the expression tier
        cand = (keys[:, None, :] == qkeys[None, :, :]).any(axis=2)
        cand &= aid[:, None] != qids[None, :]
        pay = pd.DataFrame({"nv": pdf["v"].to_numpy()})
        return _cosines(a, qmat, qn), cand, None, pay

    q = queries.select(
        F.col(id_col).alias("query_id"),
        V.as_double(F.col(vec_col)).alias("qv"),
    )
    stream = spread(corpus, id_col).select(
        F.col(id_col).alias("id"), V.as_double(F.col(vec_col)).alias("v")
    )
    res = _select_topk(
        stream, q, k, prep, score, "nv array<double>",
        V.cosine(F.col("qv"), F.col("nv")),
    )
    if res is not None:
        return res

    def _keys(df: DataFrame, idname: str) -> DataFrame:
        v0 = V.as_double(F.col(vec_col))
        v = F.when(F.size(v0) == dim, v0).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"rp_bucket_topk: expected dim={dim}, got "),
                    F.size(v0).cast("string"),
                )
            )
        )
        entries = []
        for t in range(n_tables):
            lits = F.array(*[F.lit(float(planes[d, t])) for d in range(dim)])
            proj = F.aggregate(
                F.zip_with(v, lits, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            entries.append(
                F.struct(
                    F.lit(t).alias("t"),
                    F.floor(proj / F.lit(float(bucket_length))).alias("key"),
                )
            )
        return df.select(
            F.col(id_col).alias(idname),
            v.alias(f"{idname[0]}v"),
            F.explode(F.array(*entries)).alias("tk"),
        ).select(idname, f"{idname[0]}v", "tk.t", "tk.key")

    qk = _keys(queries, "query_id")
    ck = _keys(corpus, "neighbor_id")
    cand = (
        qk.join(ck, ["t", "key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "neighbor_id", "nv")
        .distinct()
    )
    return _topk(
        cand.select(
            "query_id",
            "neighbor_id",
            V.cosine(F.col("qv"), F.col("nv")).alias("score"),
        ),
        k,
    )

#: Hard cap on :func:`cosine_pairs` input — it is the O(n^2) *verification
#: baseline*; past this size the caller wants :func:`embedding_cosine_dupes`.
COSINE_PAIRS_MAX_ROWS = 100_000


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = COSINE_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Exact cosine near-dup pairs (id_a < id_b, score >= threshold) —
    the verification baseline for :func:`embedding_cosine_dupes`. O(n^2)
    scoring by construction; bound the input (e.g. one dedup shard or an
    id range) before calling at scale — inputs past ``max_rows`` raise.

    Shape: the bounded input is materialized driver-side as a numpy matrix
    and broadcast (it IS the broadcast relation — same thing Spark does
    for a broadcast join side), then ONE ``mapInPandas`` pass streams the
    same rows and finds candidate pairs per Arrow batch with a numpy
    matmul. Alternatives measured at (1000 vecs, 64 dims): non-equi self-
    join with fold-expression cosine 29s (Catalyst inlines the interpreted
    fold into the nested-loop join condition), join + Arrow pair-dot UDF
    12s (ships both vectors per PAIR); this matmul path ~1s (ships each
    vector once per side).

    The matmul only *selects* candidates (at ``threshold - 1e-9``); the
    emitted score — and the final threshold cut — use the left-to-right
    fold expression :func:`~..functions.vectors.cosine`, which accumulates
    in the same order as a sequential engine, so results are bit-stable
    regardless of numpy's SIMD summation order.
    """
    import numpy as np

    rows = df.select(F.col(id_col), V.as_double(F.col(vec_col))).limit(
        max_rows + 1
    ).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"cosine_pairs input exceeds max_rows={max_rows}: it is the "
            "bounded O(n^2) verification baseline. For full-corpus near-dup "
            "detection use embedding_cosine_dupes (sign-LSH candidates)."
        )
    ids = np.array([r[0] for r in rows], dtype="int64")
    mat = np.array([r[1] for r in rows], dtype="float64")
    nrm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    sc = df.sparkSession.sparkContext
    b = sc.broadcast((ids, mat, nrm))
    cand_cut = threshold - _CAND_EPS

    def gen(batches):
        import pandas as pd

        bids, bmat, bnrm = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.vstack([np.asarray(v, dtype="float64") for v in pdf["v"]])
            aid = pdf["id"].to_numpy()
            s = _cosines(a, bmat, bnrm)
            ia, ib = np.where((s >= cand_cut) & (aid[:, None] < bids[None, :]))
            yield pd.DataFrame(
                {
                    "id_a": aid[ia],
                    "id_b": bids[ib],
                    # object dtype: Arrow rejects a numpy-backed column of
                    # lists for array<double>
                    "va": pd.Series([a[i].tolist() for i in ia], dtype=object),
                    "vb": pd.Series([bmat[j].tolist() for j in ib], dtype=object),
                }
            )

    cands = df.select(
        F.col(id_col).alias("id"), V.as_double(F.col(vec_col)).alias("v")
    ).mapInPandas(
        gen, "id_a long, id_b long, va array<double>, vb array<double>"
    )
    return (
        cands.select(
            "id_a", "id_b", V.cosine(F.col("va"), F.col("vb")).alias("score")
        )
        .filter(F.col("score") >= threshold)
    )


def sign_planes(seed: int, dim: int, n_planes: int):
    """Deterministic Rademacher projection matrix (dim x n_planes) of
    +-1.0 entries, each the low bit of md5("plane:{seed}:{p}:{d}") — no
    RNG, identical on every engine/run/partitioning. Shared by the Spark
    UDF and the DuckDB oracle generator so the two can never drift."""
    import hashlib

    import numpy as np

    m = np.empty((dim, n_planes), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"plane:{seed}:{p}:{d}".encode()).digest()[0]
            m[d, p] = 1.0 if (h & 1) else -1.0
    return m


def embedding_cosine_dupes(
    df: DataFrame,
    threshold: float = 0.8,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_ids_per_band_key: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: random-hyperplane LSH.

    ``max_ids_per_band_key`` mirrors minhash_lsh_dupes'
    ``max_docs_per_band_key``: drop (band, key) buckets larger than the
    cap before pairing — a bucket of B vectors is B*(B-1)/2
    candidate pairs, and at sign-LSH an over-full bucket means a dense
    direction cluster, not duplication. Pairs whose EVERY collision band
    is capped are lost (recall, not precision); OFF by default so the
    frozen registry entry keeps its verified recall contract. Past
    ``dedup.PAIR_GUARD_MIN_BYTES`` of input the kept buckets' pairs are
    priced before any pair row exists — candidates come from the
    bucket-list generator shared with the MinHash operators
    (``dedup._lsh_candidate_pairs``); a degenerate (constant-ish)
    embedding column keys everything into a handful of buckets.

    Signature = sign bits of ``n_planes`` Rademacher (+-1) projections —
    Achlioptas-style random projections give the same sign-LSH guarantee
    as Gaussian planes (P[bits agree] ~ 1 - angle/pi) while making every
    plane entry an md5-derived literal BOTH engines can reproduce, so the
    banded candidate set has a generated DuckDB twin (a Gaussian matrix
    from a numpy RNG is replayable by nothing else). Candidates share at
    least one of ``bands`` band keys; exact cosine is computed on
    candidates only. Recall < 1 by design at low thresholds —
    planted-duplicate recall is pytest-verified.

    The projection is a Pandas UDF on purpose: a (batch x dim) @ (dim x
    n_planes) matmul per Arrow batch vectorizes ~100x better than a per-
    element fold expression; the plane matrix is rebuilt per batch from
    the seed (no RNG state, closure-free). Sign boundaries are the one
    cross-engine hazard: a projection within one ulp of zero could bit-
    flip between numpy's SIMD summation and the twin's fold — it affects
    candidate recall only, never an emitted score, and the final output
    is the exact-cosine-filtered set.
    """
    from pyspark.sql.types import ArrayType, LongType

    r = n_planes // bands

    # no type hints: under `from __future__ import annotations` they become
    # strings pyspark's hint inference can't resolve; SCALAR is the default.
    def _band_keys(vecs):
        import numpy as np
        import pandas as pd

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(vecs.to_numpy())  # (batch, dim)
        planes = sign_planes(seed, m.shape[1], n_planes)
        bits = (m @ planes) > 0  # (batch, n_planes)
        weights = 1 << np.arange(r)
        keys = [
            bits[:, b * r : (b + 1) * r] @ weights for b in range(bands)
        ]  # bands x (batch,)
        return pd.Series(np.stack(keys, axis=1).tolist())

    band_keys = F.pandas_udf(_band_keys, ArrayType(LongType()))

    # candidates from the shared bucket-list generator (the guard prices
    # the kept lists, so the projection UDF runs once, when their
    # checkpoint materializes); vectors join back by id after the
    # candidate distinct instead of riding every banded row
    rows = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(band_keys(F.col(vec_col))).alias("band", "key"),
    )
    cand = (
        _lsh_candidate_pairs(
            rows,
            max_ids_per_band_key,
            "max_ids_per_band_key",
            _guarded(df),
        )
        # a vec_id on several rows is listed once per row: drop its
        # pairs with itself
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )

    def vecs(tag):
        return _sh(
            df.select(
                F.col(id_col).alias(f"doc_{tag}"),
                V.as_double(F.col(vec_col)).alias(f"v{tag}"),
            )
        )

    pairs = cand.join(vecs("a"), "doc_a").join(vecs("b"), "doc_b")
    return (
        pairs.select(
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            V.cosine(F.col("va"), F.col("vb")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
        # a repeated (vec_id, vector) row joins back once per copy
        .distinct()
    )


def _nearest_cell(
    c: DataFrame, centroids: DataFrame, id_col: str, dim: int | None = None
) -> DataFrame:
    """Assign each vector (id, v) to its nearest centroid: broadcast the
    K centroids, argmin via ``min_by`` aggregation (tie-break on cell id);
    partial aggregation combines map-side, so the shuffle carries ~one row
    per vector, not one per (vector, centroid). ``dim`` (known from the
    trained model) unrolls the distance into codegen arithmetic — this
    O(rows x K) stage is the one that priced the corpus-scaled-K SemDeDup
    at sf10 (see functions.vectors.dot).

    Rejected alternative (measured, round 6): inlining the K trained
    centroids as literal distance-chain columns would make assignment a
    shuffle-free projection, but whole-stage codegen fuses the K x dim
    term chains into ONE Janino method with no split point (the inputs
    are locals, not a row), blows the 64 KB bytecode limit, and the
    whole stage silently drops to interpreted eval with a fresh compile
    ATTEMPT per pass — 4x slower than this join at bench scale and
    catastrophically slower at sf10.

    Past ``_NEAREST_CELL_ARROW_K`` centroids the crossJoin itself is the
    scale hazard: N x K intermediate rows each carrying the vector.
    SemDeDup's corpus-scaled K makes that O(N^2/target_cell) — at sf100
    (2M vectors, K=3906) 7.8e9 wide rows filled this box's scratch and
    died in spill before any scoring. There the candidate cells come from
    :func:`_propose_cells` instead, and the SAME exact-expression
    distance + min_by tie-break run on the ~N proposed rows. Identical
    assignments by construction (verified: sf10 semantic_dedup_survivors
    value hash unchanged)."""
    return _argmin_cell(
        c, centroids, id_col, "v", "cell", dim=dim,
        propose=_centroid_count(centroids) > _NEAREST_CELL_ARROW_K,
    )


#: crossJoin-assignment ceiling: below this K the N x K row blowup is
#: cheap and the (long-verified) broadcast-join plan is kept; above it the
#: Arrow candidate pass takes over. The driver-gate fixtures all sit below
#: (sf0.1: K=39), so registry plans at the gate are unchanged.
_NEAREST_CELL_ARROW_K = 64


def _centroid_count(centroids: DataFrame) -> int:
    """K of the model frame. Centroid frames are K-row LOCAL relations by
    construction (driver-trained, see ivf_assign) — counting one is a
    driver-side no-op, not a job."""
    return centroids.count()


def _argmin_cell(
    rows: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec: str,
    cell: str,
    part: str | None = None,
    dim: int | None = None,
    propose: bool = False,
) -> DataFrame:
    """Nearest centroid per row of ``rows`` (``id_col``, ``part``,
    ``vec``): (``id_col``, ``part``, ``cell``, ``vec``) with ``cell`` the
    argmin of the exact euclidean fold against ``centroids`` (``part``,
    ``cell``, ``centroid``), ties to the lower cell. ``part`` (PQ's
    subspace) restricts each row to its own part's centroids. With
    ``propose`` only the cells :func:`_propose_cells` proposes are
    scored, which yields the same assignment."""
    keys = [id_col] + ([part] if part else [])
    if propose:
        pairs = _propose_cells(rows, centroids, vec, cell, part).join(
            F.broadcast(centroids), keys[1:] + [cell]
        )
    elif part:
        pairs = rows.join(F.broadcast(centroids), part)
    else:
        pairs = rows.crossJoin(F.broadcast(centroids))
    scored = pairs.select(
        *keys, vec, cell, V.euclidean(vec, "centroid", dim).alias("dist")
    )
    return (
        scored.groupBy(*keys)
        .agg(
            F.min_by(
                F.struct(cell, vec), F.struct("dist", cell)
            ).alias("__best")
        )
        .select(
            *keys,
            F.col(f"__best.{cell}").alias(cell),
            F.col(f"__best.{vec}").alias(vec),
        )
    )


def _propose_cells(
    rows: DataFrame, centroids: DataFrame, vec: str, cell: str, part: str | None
) -> DataFrame:
    """Arrow tier of nearest-centroid assignment: ``rows`` with one row
    per proposed ``cell``. Per Arrow batch, numpy computes squared
    distances from each ``vec`` to every centroid of its ``part`` and
    proposes every cell within a scale-aware ``_CAND_EPS`` band of the
    row's minimum: a superset of the exact argmin, since numpy and the
    expression agree to ~1e-15. The K centroids are collected (driver-
    tiny by construction) and broadcast."""
    import numpy as np
    from pyspark.sql.types import StructType

    by_part: dict = {}
    for r in centroids.collect():
        by_part.setdefault(r[part] if part else None, []).append(
            (r[cell], r["centroid"])
        )
    packed = {}
    for p, items in by_part.items():
        mat = np.array([v for _, v in items], dtype="float64")
        packed[p] = (
            np.array([c for c, _ in items]),
            mat,
            np.einsum("ij,ij->i", mat, mat),
        )
    b = rows.sparkSession.sparkContext.broadcast(packed)

    def gen(batches):
        import pandas as pd

        pk = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            groups = pdf.groupby(part, sort=False) if part else [(None, pdf)]
            for p, grp in groups:
                cells, cmat, c2 = pk[p]
                a = np.vstack([np.asarray(v, dtype="float64") for v in grp[vec]])
                # squared distances via the expansion; monotone with the
                # exact expression's sqrt distance, ulp-close to its square
                d2 = (
                    np.einsum("ij,ij->i", a, a)[:, None]
                    - 2.0 * (a @ cmat.T)
                    + c2[None, :]
                )
                # scale-aware margin: the expansion can lose ~eps*|a|^2 to
                # cancellation against the expression's direct sum of
                # squares, so the band widens with magnitude
                dmin = d2.min(axis=1)[:, None]
                ri, ci = np.where(d2 <= dmin + _CAND_EPS * (1.0 + np.abs(dmin)))
                out.append(grp.iloc[ri].assign(**{cell: cells[ci]}))
            yield pd.concat(out, ignore_index=True)

    schema = StructType(rows.schema.fields + [centroids.schema[cell]])
    return rows.mapInPandas(gen, schema)


#: Lloyd training points per centroid. FAISS trains IVF coarse quantizers
#: on 39-256 points per centroid; the training sample is CAPPED at
#: ``n_cells * IVF_TRAIN_PER_CELL`` rows no matter the corpus size, so
#: quantizer training is O(1) in the corpus — the distributed work is one
#: TakeOrdered pass to draw the sample.
IVF_TRAIN_PER_CELL = 256


def ivf_assign(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 1,
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic hash-ordered training sample,
    Lloyd-refined centroids, then each corpus vector assigned to its
    nearest centroid cell.

    Training policy (PINNED — changing any of these changes results and
    invalidates cross-round benchmarks): the training set is the
    ``n_cells * IVF_TRAIN_PER_CELL`` corpus rows with the smallest
    md5(id) — a deterministic pseudo-random draw (the md5 order is a
    hash shuffle of the corpus, so the prefix is an unbiased sample; no
    RNG, no seed parameter, identical on every run and partitioning),
    planned as a lazy distributed TakeOrdered. Seeds are the first
    ``n_cells`` rows of that same order; ``refine_iterations=1`` Lloyd
    step by default recomputes each centroid as the element-wise mean of
    its sampled members (empty cells keep their seed centroid).

    ``refine_iterations=0`` is the PORTABLE-QUANTIZER mode: the model is
    exactly the first ``n_cells`` corpus rows of the md5 order (no Lloyd,
    no float averaging anywhere), so cell assignment, probe order, and
    every downstream score replay bit-for-bit in a second engine — the
    oracle-checked registry queries (ann_ivf_topk,
    semantic_dedup_survivors) run this mode and their generated DuckDB
    twins re-derive the same centroids with ROW_NUMBER over md5(id).
    Only ``n_cells`` rows are drawn in this mode (the Lloyd sample would
    be dead weight).

    Training runs DRIVER-SIDE over the bounded sample, FAISS-style: the
    distributed work is one TakeOrdered pass that draws the capped
    sample (<= n_cells * IVF_TRAIN_PER_CELL rows, corpus-independent);
    Lloyd refinement is then numpy on the driver and the resulting
    K-row model is emitted as a local relation, so every downstream
    broadcast is a LocalTableScan. The two rejected alternatives both
    measured slower and scale no better: a fully lazy Spark trainer
    re-evaluates the sample + Lloyd lineage once per consumer (probe
    broadcast AND assignment broadcast), and an eager Spark-side Lloyd
    schedules ~10 tiny stages to average a few thousand rows. Collecting
    a bounded training sample to train a broadcastable model is exactly
    what a 1000-executor job does (FAISS trains its coarse quantizer on
    39-256 points per centroid).

    Returns (assignments, centroids). The assignment — the part that IS
    corpus-sized — is one broadcast join + min_by argmin over K
    centroids; repartitioning the output by ``cell`` colocates each
    cell for probe-time scans.
    """
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    # parallelism guard for the O(rows x K) assignment stage (see
    # brute_force_topk): one sub-split-size embedding file would run the
    # whole distance/argmin pass on a single task
    c = spread(corpus, id_col).select(
        F.col(id_col), V.as_double(F.col(vec_col)).alias("v")
    )
    if centroids is not None:
        # pre-trained model passthrough (train once / search many — the
        # FAISS index-build vs search split): skip the sample draw, reuse
        # the K-row local relation. Deterministic either way (the trained
        # model is a pure function of the corpus + pinned policy), so a
        # cached model NEVER changes results, it only skips the
        # TakeOrdered sample job per consumer.
        first = centroids.first()
        dim = len(first.centroid) if first else None
        return _nearest_cell(c, centroids, id_col, dim), centroids
    # orderBy+limit plans TakeOrderedAndProject (distributed top-k) — ONE
    # Spark job draws the bounded sample; Lloyd then runs driver-side in
    # numpy over <= n_cells * IVF_TRAIN_PER_CELL rows (a Spark-side Lloyd
    # loop schedules ~10 tiny stages for the same bounded arithmetic).
    sample_n = (
        n_cells if refine_iterations <= 0 else n_cells * IVF_TRAIN_PER_CELL
    )
    sample = (
        c.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(sample_n)
        .select("v")
        .collect()
    )
    X = np.array([r.v for r in sample], dtype=np.float64)
    # Seeds: the first n_cells rows of the hash order (pinned policy).
    cent = X[: min(n_cells, len(X))].copy()
    for _ in range(max(refine_iterations, 0)):
        # squared distance is argmin-equivalent to euclidean; argmin's
        # first-occurrence tie-break matches min_by(struct(dist, cell))
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for cell in range(len(cent)):
            members = X[assign == cell]
            # a cell with no sampled members keeps its previous centroid
            if len(members):
                cent[cell] = members.mean(axis=0)
    schema = StructType(
        [
            StructField("cell", IntegerType(), False),
            StructField("centroid", ArrayType(DoubleType(), True), True),
        ]
    )
    centroids = corpus.sparkSession.createDataFrame(
        [(i, [float(x) for x in cent[i]]) for i in range(len(cent))],
        schema=schema,
    )
    dim = int(X.shape[1]) if len(X) else None
    assignments = _nearest_cell(c, centroids, id_col, dim)
    return assignments, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 1,
    dim: int | None = None,
    centroids: DataFrame | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF-Flat search: probe the ``n_probe`` nearest cells per query, exact
    cosine within probed cells only. Pass ``dim`` when known to unroll the
    scoring kernels into codegen (functions.vectors.dot) without a probe
    job; else it's read off the trained centroid model. ``centroids``
    reuses a pre-trained quantizer; ``centroids`` + ``assignments``
    together are the full prebuilt INDEX (an IVF index is exactly those
    two artifacts — FAISS builds once and serves many searches). Both
    are pure functions of the corpus + pinned policy, so passing cached
    copies never changes results."""
    if assignments is None or centroids is None:
        assignments, centroids = ivf_assign(
            corpus, n_cells, id_col, vec_col, refine_iterations, centroids
        )
    if dim is None:
        first_cent = centroids.first()
        dim = len(first_cent.centroid) if first_cent else None
    # per-row / parameter-bounded expressions (|Q| norms, |Q| x K probe
    # distances) stay as compact folds — unrolling only pays on the
    # corpus-scaled stages and otherwise just grows per-pass codegen
    q = queries.select(
        F.col(id_col).alias("query_id"), V.as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", V.norm("qv"))
    qcells = q.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "qv",
        "qn",
        "cell",
        V.euclidean("qv", "centroid").alias("cdist"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("cdist"), F.asc("cell"))
    probes = (
        qcells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", "qn", "cell")
    )
    # per-row norms pre-join (see brute_force_topk): the probed-cell pair
    # stage then runs one unrolled dot + divide per candidate instead of
    # three — same doubles, a third of the expression and the arithmetic.
    # The probe side is parameter-bounded (|Q| x n_probe rows) — an
    # explicit broadcast by construction, so the corpus-scaled assignment
    # side is never shuffled or sorted for this join.
    cand = F.broadcast(probes).join(
        # corpus-scaled side: unrolled norm (see brute_force_topk note)
        assignments.withColumn("cn", V.norm("v", dim)), "cell"
    ).filter(F.col("query_id") != F.col(id_col))
    pair_d = F.col("qn") * F.col("cn")
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.when(pair_d > 0, V.dot("qv", "v", dim) / pair_d).alias("score"),
    )
    return _topk(scored, k)

# --- SemDeDup: semantic dedup over embedding clusters ------------------------


def semantic_dedup_pairs(
    corpus: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 1,
    dim: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Within-cluster near-duplicate pairs, SemDeDup-style (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster embeddings with the IVF coarse quantizer, then
    compare vectors only against members of the SAME cell.

    Output: (cell, id_a, id_b, score) with id_a < id_b and cosine >=
    ``threshold``. Scale shape: pairing is ONE grouped Arrow pass per
    cell (``applyInPandas``), never a self-join — pair work is the sum
    over cells of |cell|^2, never corpus^2; n_cells grows with the corpus
    so cells stay bounded. The cluster step is the same broadcast-centroid
    argmin the ANN path uses.
    """
    assignments, cents = ivf_assign(
        corpus, n_cells, id_col, vec_col, refine_iterations, centroids
    )
    # model is a K-row local relation; its row width is the vector dim,
    # which unrolls every downstream kernel into codegen arithmetic
    if dim is None:
        first_cent = cents.first()
        dim = len(first_cent.centroid) if first_cent else None
    # Normalize ONCE per row before the self-join: higher-order array
    # expressions don't whole-stage-codegen, so cosine-per-pair (two
    # norms + a dot = 3 interpreted O(dim) loops per PAIR) prices the
    # |cell|^2 stage 3x higher than dot-of-unit-vectors. O(n) norms
    # beat O(pairs) norms. The norm is materialized in its own column
    # first — referencing it inside the transform lambda would
    # re-evaluate the aggregate per element.
    assignments = (
        assignments.withColumn("__nrm", V.norm("v"))
        .withColumn(
            "nv", F.transform("v", lambda x: x / F.col("__nrm"))
        )
        .select(id_col, "cell", "nv")
    )
    # Within-cell pairing is ONE grouped Arrow pass, not a cell self-join.
    # The join formulation (both sides shuffle_hash on cell, pair rows
    # carrying BOTH 64-double vectors into an interpreted/huge-method dot)
    # streams |cell|^2/2 * ~1KB rows per cell — at sf100 (2M vectors,
    # K=3906, ~512/cell) that is ~512M wide pair rows, which filled this
    # box's 62GB scratch and died in spill. Per cell, numpy scores the
    # unit vectors (the SAME Spark-computed `nv` doubles, shipped via
    # Arrow) with a blocked matmul and SELECTS candidates at
    # threshold - 1e-9; only true near-pairs leave the worker, carrying
    # their vectors for the exact re-score. The emitted score — and the
    # final threshold cut — remain the unrolled/fold `V.dot` expression on
    # identical operands, so results and oracle hashes are unchanged
    # (same selection-vs-scoring split as cosine_pairs/brute_force_topk).
    import numpy as np

    cand_cut = threshold - _CAND_EPS

    def cell_pairs(pdf):
        import pandas as pd

        pdf = pdf.sort_values("__sd_id", kind="mergesort")
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "cell": pd.Series([], dtype=pdf["cell"].dtype),
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    "va": pd.Series([], dtype=object),
                    "vb": pd.Series([], dtype=object),
                }
            )
        mat = np.vstack([np.asarray(v, dtype="float64") for v in pdf["nv"]])
        ids = pdf["__sd_id"].to_numpy()
        cell_val = pdf["cell"].iloc[0]
        out_a, out_b, out_va, out_vb = [], [], [], []
        # blocked matmul: bound scratch at ~32MB regardless of cell size
        block = max(1, 4_000_000 // n)
        for i0 in range(0, n, block):
            i1 = min(i0 + block, n)
            s = mat[i0:i1] @ mat.T
            ia, ib = np.where(s >= cand_cut)
            keep = (ia + i0) < ib  # id_a < id_b via the sorted order
            for i, j in zip((ia + i0)[keep], ib[keep]):
                out_a.append(ids[i])
                out_b.append(ids[j])
                out_va.append(mat[i].tolist())
                out_vb.append(mat[j].tolist())
        return pd.DataFrame(
            {
                "cell": pd.Series([cell_val] * len(out_a), dtype=pdf["cell"].dtype),
                "id_a": pd.Series(out_a, dtype="int64"),
                "id_b": pd.Series(out_b, dtype="int64"),
                "va": pd.Series(out_va, dtype=object),
                "vb": pd.Series(out_vb, dtype=object),
            }
        )

    # the grouped Arrow pass ships ids as int64 and the output contract is
    # (id_a long, id_b long); a non-numeric id would cast to NULL silently
    # (non-ANSI) and corrupt the pair set — refuse instead of guessing
    id_type = dict(assignments.dtypes).get(id_col, "")
    if id_type not in _INTEGRAL:
        raise TypeError(
            f"semantic_dedup_pairs requires an integral id column; got"
            f" {id_col}: {id_type}. Map ids to bigint upstream (e.g."
            " monotonically_increasing_id or a dictionary join)."
        )
    cands = (
        assignments.select(
            "cell", F.col(id_col).cast("bigint").alias("__sd_id"), "nv"
        )
        .groupBy("cell")
        .applyInPandas(
            cell_pairs,
            "cell int, id_a long, id_b long, va array<double>, vb array<double>",
        )
    )
    return (
        cands.select(
            "cell",
            F.col("id_a").alias("id_a"),
            F.col("id_b").alias("id_b"),
            V.dot("va", "vb", dim).alias("score"),
        )
        .filter(F.col("score") >= threshold)
        .select("cell", "id_a", "id_b", "score")
    )


def semantic_dedup_keep(
    corpus: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 1,
    dim: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup keep-set: drop every vector that has a lower-id neighbor in
    its cell with cosine >= ``threshold``; keep the rest (original columns).

    Deterministic keep-min-id variant of the paper's policy (the paper
    keeps the member farthest from the centroid; min-id is order-stable
    across engines and partitionings). Greedy chain semantics: in a chain
    a<b<c with sim(a,b), sim(b,c) >= t but sim(a,c) < t, only ``a``
    survives — matching the paper's one-survivor-per-dup-group intent.
    Invariant (tested): no two kept vectors in the same cell score >=
    ``threshold``.
    """
    dupes = semantic_dedup_pairs(
        corpus, n_cells, threshold, id_col, vec_col, refine_iterations, dim,
        centroids,
    ).select(F.col("id_b").alias(id_col)).distinct()
    return corpus.join(dupes.hint("shuffle_hash"), id_col, "left_anti")

# --- PQ-ANN: product quantization with ADC scoring ---------------------------


def _pq_subvectors(
    df: DataFrame, m: int, id_col: str, vec_col: str
) -> DataFrame:
    """One row per (id, subspace j, L2-normalized subvector). Raises when
    the embedding dimension is not divisible by ``m`` (guard embedded in
    the kept ``sv`` column so it survives column pruning). The norm is
    materialized per row BEFORE the transform — referencing a
    higher-order expression inside a lambda re-evaluates it per element."""
    return (
        df.select(
            F.col(id_col), V.as_double(F.col(vec_col)).alias("v0")
        )
        .withColumn("nrm", V.norm(F.col("v0")))
        .withColumn(
            "nv",
            F.when(
                F.size("v0") % m == 0,
                F.transform("v0", lambda x: x / F.col("nrm")),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"PQ: embedding dim must be divisible by m={m}, got "),
                        F.size("v0").cast("string"),
                    )
                )
            ),
        )
        .withColumn("d_sub", (F.size("nv") / m).cast("int"))
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
            "nv",
            "d_sub",
        )
        .select(
            id_col,
            "j",
            F.slice(
                "nv", F.col("j") * F.col("d_sub") + 1, F.col("d_sub")
            ).alias("sv"),
        )
    )


def pq_train_encode(
    corpus: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 2,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization codebooks + corpus codes (Jegou et al. 2011,
    "Product Quantization for Nearest Neighbor Search").

    Vectors are L2-normalized, split into ``m`` contiguous subvectors, and
    each subspace gets a ``k_codes``-entry codebook trained with
    deterministic hash-stratified seeds + Lloyd steps (the same scheme as
    :func:`ivf_assign`, run for all m subspaces in ONE DataFrame program —
    subspace id ``j`` is just another grouping key, so no per-subspace
    loop). Returns:

    - codes: (id, codes array<int> of length m) — the compressed corpus,
      m*log2(k) bits per vector instead of 4*d bytes;
    - codebooks: (j, code, centroid array<double>) — m*k_codes tiny rows,
      always broadcastable.

    Scale shape: training is groupBy (j, code, pos) averages over the
    exploded corpus — partial aggregation applies; encoding is a broadcast
    join + per-(id, j) argmin, no per-subspace jobs. Once the corpus plan
    estimate reaches ``LARGE_INPUT_BYTES`` the argmin scores only the codes
    :func:`_propose_cells` proposes per subspace instead of rows x
    k_codes interpreted euclideans; the exact fold distance + min_by
    tie-break still decide, so assignments are identical (pin-tested).

    The subvector table is persisted and stays cached while the returned
    lazy ``codes``/``codebooks`` are alive (they reference it; every
    Lloyd round and the final encode reuse it). Long-lived drivers that
    train many PQ indexes should ``spark.catalog.clearCache()`` between
    trainings.
    """
    from pyspark.storagelevel import StorageLevel

    arrow = is_large(corpus)
    # materialize-before-reuse: every Lloyd round AND the final encode
    # re-reference the subvector table — without the persist the scan +
    # normalize + split would re-execute per use (and on a one-file local
    # corpus, on a single task; spread first so the narrow maps fan out)
    sub = _pq_subvectors(spread(corpus, id_col), m, id_col, vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Seed selection = the k_codes rows with the SMALLEST md5(id|j) per
    # subspace. r7 shipped this as a row_number window partitioned by j —
    # a GLOBAL per-j sort, i.e. the whole corpus shuffled into m
    # partitions and sorted with m-way parallelism (at sf100: 20M rows
    # through 4 tasks, data-scaled). Bottom-k is an AGGREGATE, not a
    # sort: stage 1 keeps each (j, salt-of-1024) group's k_codes smallest
    # (array_sort + slice over a bounded collect_list), stage 2 reduces
    # the m*1024 survivor lists to the global bottom-k per j. Selection
    # is by the total order (md5, id) either way, so the chosen seed SET
    # and its code ranks are identical to the window plan (md5(id|j) is
    # already unique; id rides as tiebreak-by-construction). The struct
    # sorts by (__h, __i) and never reaches sv — unique prefix.
    hashed = sub.withColumn(
        "__h", F.md5(F.concat_ws("|", F.col(id_col), F.col("j")))
    )
    seed_struct = F.struct(
        F.col("__h"), F.col(id_col).alias("__i"), F.col("sv")
    )
    bottom = (
        hashed.groupBy(
            "j", F.pmod(F.abs(F.hash(F.col(id_col))), F.lit(1024)).alias("__s")
        )
        .agg(
            F.slice(
                F.array_sort(F.collect_list(seed_struct)), 1, k_codes
            ).alias("cand")
        )
        .select("j", F.explode("cand").alias("c"))
        .groupBy("j")
        .agg(
            F.slice(
                F.array_sort(F.collect_list("c")), 1, k_codes
            ).alias("top")
        )
    )
    codebooks = bottom.select(
        "j", F.posexplode("top").alias("code", "c")
    ).select("j", "code", F.col("c.sv").alias("centroid"))

    def _assign(cb: DataFrame) -> DataFrame:
        # min_by hash agg, not a row_number window: map-side combine
        # shrinks the shuffle to one row per (id, j) and skips the sort.
        return _argmin_cell(sub, cb, id_col, "sv", "code", "j", propose=arrow)

    # Checkpoint the (tiny, m*k_codes-row) codebooks each round: every
    # Lloyd step and BOTH downstream consumers (codes + the query table)
    # would otherwise re-execute the whole training lineage per use.
    codebooks = codebooks.localCheckpoint(eager=False)
    for _ in range(max(refine_iterations, 0)):
        members = _assign(codebooks)
        codebooks = (
            members.select("j", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("j", "code", "pos")
            .agg(F.avg("x").alias("mx"))
            .groupBy("j", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                    lambda s: s.mx,
                ).alias("centroid")
            )
        ).localCheckpoint(eager=False)
    codes = (
        _assign(codebooks)
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "code"))),
                lambda s: s.code,
            ).alias("codes")
        )
    )
    if materialize:
        # Build-once/search-many split (the FAISS shape, same as the IVF
        # index cache): eagerly checkpoint the narrow outputs and RELEASE
        # the fat subvector table — without this every pq_topk call
        # leaves another persisted copy of ``sub`` in the CacheManager
        # (strong driver-side refs; free_blocks can't reclaim them), and
        # an in-session repeat re-trains from scratch. Deterministic
        # frames, so staging never changes results.
        codes = codes.localCheckpoint(eager=True)
        codebooks = codebooks.localCheckpoint(eager=True)
        sub.unpersist()
    return codes, codebooks


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 2,
    rerank_factor: int = 0,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """PQ-ADC top-k: score = sum over subspaces of dot(query subvector,
    codeword centroid) — a lookup-table approximation of the cosine on
    normalized vectors. Output: query_id, neighbor_id, score, rank.

    Asymmetric distance computation: the QUERY stays exact; only the
    corpus is quantized. The per-query lookup table (m*k_codes doubles) is
    built on the broadcast query side; scoring each corpus row is then m
    map lookups — no vector math in the join, which is what makes PQ the
    cheap-scan path at 100 TB (the compressed corpus is ~25x narrower
    than raw float32 embeddings at m=4, k=16).

    ``rerank_factor > 0`` enables the standard two-stage shape: ADC
    retrieves ``k * rerank_factor`` candidates per query, then ONLY those
    rows are re-scored with exact cosine against the raw vectors and the
    final top-k ranked on the exact score. The exact pass touches
    |Q| * k * rerank_factor rows — independent of corpus size — so the
    quantization error stops costing recall without giving up the
    narrow-scan candidate stage.

    Once the corpus plan estimate reaches ``LARGE_INPUT_BYTES`` the ADC
    rank stage takes the Arrow tier (:func:`_select_topk`): without it
    the window sorts the FULL corpus-scaled scored relation with |Q|-way
    parallelism (at sf100: 5M rows through 5 tasks). Each batch's ADC
    scores are summed by a SEQUENTIAL j-loop of lookup-adds, the fold's
    own op order, and the fold expression re-scores the survivors, so
    emitted values are identical (pin-tested).
    """
    import numpy as np

    if index is not None:
        # prebuilt (codes, codebooks) — the build-once/search-many split;
        # caller owns parameter consistency (m/k_codes must match)
        codes, codebooks = index
    else:
        codes, codebooks = pq_train_encode(
            corpus, m, k_codes, id_col, vec_col, refine_iterations,
        )
    qsub = _pq_subvectors(queries, m, id_col, vec_col)
    # (query, j, code) -> dot(q_j, centroid); flattened to qtab[j*k + code]
    # Map, not flat array: Lloyd steps can empty a code cluster, leaving
    # (j, code) holes — positional indexing into a sorted collect_list
    # would silently misalign. Every code that appears in a corpus row's
    # ``codes`` exists in the codebook, so lookups never miss.
    qtab = (
        qsub.join(F.broadcast(codebooks), "j")
        .select(
            F.col(id_col).alias("query_id"),
            (F.col("j") * k_codes + F.col("code")).alias("slot"),
            V.dot(F.col("sv"), F.col("centroid")).alias("tv"),
        )
        .groupBy("query_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("slot", "tv")))
            ).alias("qtab")
        )
    )
    adc_score = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("qtab"), j * k_codes + F.element_at(F.col("codes"), j + 1)
        ),
    )
    keep_n = k * max(rerank_factor, 1)
    top = None
    if is_large(corpus):

        def prep(rows):
            # flat (|Q|, m*k_codes) table; holes (codes emptied by Lloyd
            # rounds) stay NaN and are never indexed — every corpus code
            # exists in qtab
            qt = np.full((len(rows), m * k_codes), np.nan, dtype="float64")
            for qi, r in enumerate(rows):
                for slot, tv in r["qtab"].items():
                    qt[qi, slot] = tv
            return qt

        def score(pdf, aid, qids, qt):
            import pandas as pd

            cd = np.vstack([np.asarray(c, dtype="int64") for c in pdf["codes"]])
            slots = cd + np.arange(m, dtype="int64")[None, :] * k_codes
            s = np.zeros((len(cd), len(qids)), dtype="float64")
            for j in range(m):  # sequential accumulation over j, as the fold
                s = s + qt[:, slots[:, j]].T
            pay = pd.DataFrame({"codes": pdf["codes"].to_numpy()})
            return s, aid[:, None] != qids[None, :], None, pay

        stream = codes.select(F.col(id_col).alias("id"), "codes")
        top = _select_topk(
            stream, qtab, keep_n, prep, score, "codes array<int>", adc_score
        )
    if top is None:
        top = _topk(
            codes.crossJoin(F.broadcast(qtab))
            .filter(F.col("query_id") != F.col(id_col))
            .select(
                "query_id",
                F.col(id_col).alias("neighbor_id"),
                adc_score.alias("score"),
            ),
            keep_n,
        )
    if rerank_factor <= 0:
        return top
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), V.as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), V.as_double(F.col(vec_col)).alias("qv")
    )
    exact = (
        top.select("query_id", "neighbor_id")
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            V.cosine(F.col("qv"), F.col("cv")).alias("score"),
        )
    )
    return _topk(exact, k)
