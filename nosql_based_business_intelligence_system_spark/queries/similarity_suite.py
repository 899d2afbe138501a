"""Similarity-search suite over the ``embeddings`` table (north-star scope).

Every entry is oracle-checked. Brute-force cosine top-k compares directly
(DuckDB list_inner_product over DOUBLE[] folds left-to-right like Spark's
aggregate, so scores are bit-comparable). The approximate paths (sign-LSH
near-dup, RP-bucket LSH top-k, IVF cell probe, PQ-ADC with exact rerank,
SemDeDup survivors) run their PORTABLE-DETERMINISM mode: every random
ingredient (projection planes, coarse centroids, PQ codebooks) is either
md5-derived or an md5-chosen corpus row, so a generated DuckDB twin
replays candidate generation bit-for-bit — approximation affects recall
(pytest-tested against brute force), never an unverified value. The
float-trained (Lloyd-refined) quantizer variants remain available on the
operators (``refine_iterations>0``) and keep their pytest coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import SessionCache
from ..functions import vectors as V
from ..functions.cleaning import dd_dsumd, dsumd
from ..operators import similarity
from ..sources.tables import load_table
from .base import Query as _q

N_QUERY_VECS = 5
TOP_K = 10


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


#: Trained-quantizer / index cache (applicationId-scoped by SessionCache;
#: bounded LRU — entries hold localCheckpoint'd assignment frames whose
#: block storage is released on eviction, see caching.free_blocks). The
#: portable quantizer is a pure function of the corpus + pinned md5
#: policy, so reuse NEVER changes results — it only skips the
#: TakeOrdered sample job on repeat searches against the same corpus
#: (the FAISS train-once/search-many split; a BI session or bench loop
#: re-running an ANN query re-uses its index). A new SparkSession
#: retrains. Capacity 8: an index per (corpus, K) pair; a session
#: cycling more corpora than that releases the oldest index's blocks
#: instead of accumulating checkpoints without bound.
_MODEL_CACHE = SessionCache("ivf-index", capacity=8)


def _ivf_model(spark: SparkSession, sf_dir: str, n_cells: int):
    return _MODEL_CACHE.get_or_build(
        spark,
        (sf_dir, n_cells),
        lambda: similarity.ivf_assign(
            _emb(spark, sf_dir), n_cells, refine_iterations=0
        )[1],
    )


def _ivf_index(spark: SparkSession, sf_dir: str, n_cells: int):
    """(centroids, assignments) — the full prebuilt IVF index. The
    assignment frame is localCheckpoint'd so repeat searches read the
    materialized cells instead of re-running the argmin pass (the
    build-once/search-many split; deterministic, so reuse never changes
    results). Downstream joins against it are explicit broadcasts of the
    parameter-bounded probe side, so the checkpoint's lying size estimate
    (PLANS.md r5 scale notes) can't trigger an estimate broadcast."""

    def _build():
        cents = _ivf_model(spark, sf_dir, n_cells)
        asn, _ = similarity.ivf_assign(
            _emb(spark, sf_dir), n_cells, refine_iterations=0,
            centroids=cents,
        )
        return (cents, asn.localCheckpoint(eager=False))

    return _MODEL_CACHE.get_or_build(
        spark, (sf_dir, n_cells, "__index__"), _build
    )


def _emb_count(spark: SparkSession, sf_dir: str) -> int:
    return _MODEL_CACHE.get_or_build(
        spark,
        (sf_dir, "__count__"),
        lambda: _emb(spark, sf_dir).count(),
    )


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for the first 5 vectors (by id)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.brute_force_topk(emb, queries, k=TOP_K, dim=EMB_DIM)


_Q = V.dd_vec("q.embedding")
_C = V.dd_vec("c.embedding")

ANN_BRUTEFORCE_TOPK_SQL = f"""SELECT query_id, neighbor_id, score, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {V.dd_cosine(_Q, _C)} AS score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {V.dd_cosine(_Q, _C)} DESC, c.vec_id ASC) AS BIGINT) AS rank
  FROM embeddings q
  CROSS JOIN embeddings c
  WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
) WHERE rank <= {TOP_K}"""


def ann_nearest_same_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-filtered exact 1-NN: nearest same-label neighbor per query —
    predicate composes with the scoring cross join before ranking."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        V.as_double(F.col("embedding")).alias("qv"),
        F.col("label").alias("qlabel"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        V.as_double(F.col("embedding")).alias("cv"),
        F.col("label").alias("clabel"),
    )
    from pyspark.sql import Window

    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("qlabel") == F.col("clabel"))
        )
        .select(
            "query_id",
            "neighbor_id",
            V.cosine(F.col("qv"), F.col("cv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") == 1)
        .drop("rank")
    )


ANN_NEAREST_SAME_LABEL_SQL = f"""SELECT query_id, neighbor_id, score FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {V.dd_cosine(_Q, _C)} AS score,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {V.dd_cosine(_Q, _C)} DESC, c.vec_id ASC) AS rank
  FROM embeddings q
  CROSS JOIN embeddings c
  WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
    AND q.label = c.label
) WHERE rank = 1"""


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding norm statistics — vector fold + grouped agg."""
    emb = _emb(spark, sf_dir)
    v = V.as_double(F.col("embedding"))
    return (
        emb.select("label", V.norm(v).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # decimal-accumulated mean: double sums of arbitrary floats are
            # partial-agg-order-dependent (config-fragile once a file spans
            # multiple splits); min/max are order-free
            (dsumd(F.col("nrm")) / F.count(F.lit(1))).alias("avg_norm"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


EMBEDDING_NORM_STATS_SQL = f"""SELECT label,
  CAST(COUNT(*) AS BIGINT) AS n_vecs,
  {dd_dsumd('nrm')} / COUNT(*) AS avg_norm,
  MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
FROM (
  SELECT label,
         sqrt(list_inner_product({V.dd_vec('embedding')}, {V.dd_vec('embedding')})) AS nrm
  FROM embeddings
) GROUP BY label"""


def embedding_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function sweep per label: first/last component means, mean of
    per-vector max/min (element_at / array_max / array_min — all JVM-side),
    the column-wise sanity screen for an embedding corpus."""
    emb = _emb(spark, sf_dir)
    v = V.as_double(F.col("embedding"))
    n = F.count(F.lit(1))
    # decimal-accumulated means (see embedding_norm_stats); avg_dim is an
    # integer average — exact as a plain double sum
    return emb.groupBy("label").agg(
        (dsumd(F.element_at(v, 1)) / n).alias("avg_first"),
        (dsumd(F.element_at(v, -1)) / n).alias("avg_last"),
        (dsumd(F.array_max(v)) / n).alias("avg_max"),
        (dsumd(F.array_min(v)) / n).alias("avg_min"),
        F.avg(F.size(v)).alias("avg_dim"),
    )


_E = V.dd_vec("embedding")

EMBEDDING_COMPONENT_STATS_SQL = f"""SELECT label,
  {dd_dsumd(f'{_E}[1]')} / COUNT(*) AS avg_first,
  {dd_dsumd(f'{_E}[len({_E})]')} / COUNT(*) AS avg_last,
  {dd_dsumd(f"list_aggregate({_E}, 'max')")} / COUNT(*) AS avg_max,
  {dd_dsumd(f"list_aggregate({_E}, 'min')")} / COUNT(*) AS avg_min,
  AVG(len({_E})) AS avg_dim
FROM embeddings GROUP BY label"""


#: Registry LSH/IVF/PQ parameters — baked into both the Spark calls and the
#: generated DuckDB twins below; change them in ONE place only.
EMB_DIM = 64
LSH_TABLES = 8
LSH_BUCKET_LEN = 4.0
IVF_CELLS = 16
IVF_PROBE = 4
PQ_M = 4
PQ_CODES = 32
PQ_RERANK = 8


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed random-projection LSH top-10, portable-determinism mode:
    md5-derived Rademacher planes + fold-expression projections make the
    bucket keys (and so the candidate set) engine-replayable — fully
    hash-verified against the generated DuckDB twin."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.rp_bucket_topk(
        emb, queries, k=TOP_K, dim=EMB_DIM, n_tables=LSH_TABLES,
        bucket_length=LSH_BUCKET_LEN,
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat cell-probe top-10, portable-quantizer mode
    (``refine_iterations=0``): the coarse centroids are the first
    IVF_CELLS corpus rows in md5(id) order — no float averaging anywhere,
    so assignment, probe order, and scores replay bit-for-bit in the
    generated DuckDB twin (hash-verified). The Lloyd-refined trainer
    stays on the operator (pytest recall coverage); policy change from
    the r3 pinned Lloyd=1 is recorded in PLANS.md."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    cents, asn = _ivf_index(spark, sf_dir, IVF_CELLS)
    return similarity.ivf_topk(
        emb, queries, k=TOP_K, n_cells=IVF_CELLS, n_probe=IVF_PROBE,
        refine_iterations=0, dim=EMB_DIM,
        centroids=cents, assignments=asn,
    )


def _dd_euclid(a: str, b: str) -> str:
    """DuckDB twin of functions.vectors.euclidean: sqrt of the left-to-right
    fold of squared element diffs (list_inner_product of the diff list with
    itself folds in the same order as Spark's aggregate)."""
    d = f"list_transform(list_zip({a}, {b}), p -> p[1] - p[2])"
    return f"sqrt(list_inner_product({d}, {d}))"


def _dd_ivf_cells_ctes(n_cells: int | str) -> str:
    """Shared CTE block: corpus as DOUBLE[], md5-order centroids, per-vector
    distances to every centroid, and the min-dist cell assignment — the
    DuckDB replay of similarity.ivf_assign(refine_iterations=0) +
    _nearest_cell (same md5 seed order, same euclidean fold, same
    (dist, cell) tie-break). ``n_cells`` may be an int literal or a SQL
    scalar expression (the corpus-scaled SemDeDup twin passes a COUNT
    subquery so both engines compute the same K from the same data)."""
    return f"""vecs AS MATERIALIZED (
  SELECT vec_id AS id, {V.dd_vec('embedding')} AS v FROM embeddings
), cents AS MATERIALIZED (
  SELECT cell, centroid FROM (
    SELECT (ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1) AS cell,
           v AS centroid
    FROM vecs
  ) WHERE cell < {n_cells}
), dists AS MATERIALIZED (
  -- NARROW on purpose: (id, cell, dist) only. Carrying the DOUBLE[64]
  -- vector through the id x cell expansion materialized ~43 GB at sf10
  -- (200k vecs x corpus-scaled K=390) and OOM-killed the verify process;
  -- the vector joins back below at one row per id.
  SELECT s.id, c.cell, {_dd_euclid('s.v', 'c.centroid')} AS dist
  FROM vecs s CROSS JOIN cents c
), asn AS MATERIALIZED (
  SELECT d.id, w.v, d.cell FROM (
    SELECT id, cell,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cell) AS rn
    FROM dists
  ) d JOIN vecs w ON w.id = d.id
  WHERE d.rn = 1
)"""


def _dd_ivf_topk_sql(
    n_cells: int = IVF_CELLS, n_probe: int = IVF_PROBE,
    k: int = TOP_K, n_query: int = N_QUERY_VECS,
) -> str:
    """Generated DuckDB twin of ann_ivf_topk (portable-quantizer mode).
    Query vectors are corpus rows, so probe distances reuse the dists CTE."""
    cos = V.dd_cosine("qv", "cv")
    return f"""WITH {_dd_ivf_cells_ctes(n_cells)}, probes AS (
  SELECT p.query_id, w.v AS qv, p.cell FROM (
    SELECT id AS query_id, cell,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cell) AS rn
    FROM dists WHERE id < {n_query}
  ) p JOIN vecs w ON w.id = p.query_id
  WHERE p.rn <= {n_probe}
), cand AS (
  SELECT p.query_id, p.qv, a.id AS neighbor_id, a.v AS cv
  FROM probes p JOIN asn a USING (cell)
  WHERE p.query_id <> a.id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT query_id, neighbor_id, {cos} AS score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY {cos} DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM cand
) WHERE rank <= {k}"""


def _dd_rp_topk_sql(
    k: int = TOP_K, dim: int = EMB_DIM, n_tables: int = LSH_TABLES,
    bucket_length: float = LSH_BUCKET_LEN, seed: int = 42,
    n_query: int = N_QUERY_VECS,
) -> str:
    """Generated DuckDB twin of ann_lsh_topk: the +-1 plane matrix
    (similarity.sign_planes) inlines as signed terms per projection —
    left-assoc addition matches Spark's fold — and bucket keys are
    floor(projection / bucket_length) on bit-identical projections."""
    planes = similarity.sign_planes(seed, dim, n_tables)

    def proj(t: int) -> str:
        return "(" + "".join(
            ("+" if planes[d, t] > 0 else "-") + f"v[{d + 1}]"
            for d in range(dim)
        ) + ")"

    key_selects = "\n  UNION ALL ".join(
        f"SELECT id, v, {t} AS t, "
        f"CAST(floor({proj(t)} / {bucket_length}) AS BIGINT) AS key FROM vecs"
        for t in range(n_tables)
    )
    cos = V.dd_cosine("qv", "cv")
    return f"""WITH vecs AS MATERIALIZED (
  SELECT vec_id AS id, {V.dd_vec('embedding')} AS v FROM embeddings
), keys AS MATERIALIZED (
  {key_selects}
), cand AS (
  SELECT DISTINCT q.id AS query_id, q.v AS qv, c.id AS neighbor_id, c.v AS cv
  FROM keys q JOIN keys c ON q.t = c.t AND q.key = c.key AND q.id <> c.id
  WHERE q.id < {n_query}
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT query_id, neighbor_id, {cos} AS score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY {cos} DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM cand
) WHERE rank <= {k}"""


def _dd_pq_topk_sql(
    m: int = PQ_M, k_codes: int = PQ_CODES, k: int = TOP_K,
    rerank_factor: int = PQ_RERANK, n_query: int = N_QUERY_VECS,
    dim: int = EMB_DIM,
) -> str:
    """Generated DuckDB twin of ann_pq_topk (refine_iterations=0):
    codebooks are md5-chosen normalized subvectors (no Lloyd averaging),
    encode is the same (dist, code) argmin, the ADC score pivots the
    per-subspace table values and adds them in explicit j order to match
    Spark's fold over sequence(0, m-1), and the final rank uses the
    exact-cosine rerank over raw vectors."""
    d_sub = dim // m
    dist = _dd_euclid("s.sv", "c.centroid")
    adc_sum = "(0.0" + "".join(
        f" + MAX(CASE WHEN q.j = {j} THEN q.tv END)" for j in range(m)
    ) + ")"
    cos = V.dd_cosine("q.v0", "c.v0")
    return f"""WITH vecs AS MATERIALIZED (
  SELECT vec_id AS id, {V.dd_vec('embedding')} AS v0 FROM embeddings
), sub AS MATERIALIZED (
  SELECT id, j,
         list_slice(
           list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0))),
           j * {d_sub} + 1, j * {d_sub} + {d_sub}) AS sv
  FROM vecs CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS j) js
), cb AS MATERIALIZED (
  SELECT j, code, centroid FROM (
    SELECT j,
           ROW_NUMBER() OVER (
             PARTITION BY j ORDER BY md5(concat_ws('|', id, j)), id) - 1 AS code,
           sv AS centroid
    FROM sub
  ) WHERE code < {k_codes}
), enc AS MATERIALIZED (
  SELECT id, j, code FROM (
    SELECT s.id, s.j, c.code,
           ROW_NUMBER() OVER (
             PARTITION BY s.id, s.j ORDER BY {dist}, c.code) AS rn
    FROM sub s JOIN cb c USING (j)
  ) WHERE rn = 1
), qtab AS MATERIALIZED (
  SELECT s.id AS query_id, s.j, c.code,
         list_inner_product(s.sv, c.centroid) AS tv
  FROM sub s JOIN cb c USING (j)
  WHERE s.id < {n_query}
), adc AS (
  SELECT q.query_id, e.id AS neighbor_id, {adc_sum} AS score
  FROM enc e JOIN qtab q ON q.j = e.j AND q.code = e.code
  WHERE q.query_id <> e.id
  GROUP BY q.query_id, e.id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= {k * rerank_factor}
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT cd.query_id, cd.neighbor_id, {cos} AS score,
         CAST(ROW_NUMBER() OVER (PARTITION BY cd.query_id
           ORDER BY {cos} DESC, cd.neighbor_id ASC) AS BIGINT) AS rank
  FROM cand cd
  JOIN vecs q ON q.id = cd.query_id
  JOIN vecs c ON c.id = cd.neighbor_id
) WHERE rank <= {k}"""


#: SemDeDup cell sizing: K = max(IVF_CELLS, corpus // SEM_TARGET_CELL), so
#: cells hold ~SEM_TARGET_CELL vectors at ANY corpus size. A FIXED K makes
#: the within-cell self-join O(n^2 / K) — quadratic in the corpus (the
#: first sf10 rehearsal run blew a 10-minute budget on 12.5k-row cells);
#: constant cell size is the SemDeDup paper's own regime and keeps the
#: pair stage linear. Spark computes K from count(); the twin computes
#: the SAME K from the same table in SQL, so hashes stay in lockstep at
#: every scale (at the driver's sf<=0.1 gates K remains IVF_CELLS and
#: hashes are unchanged).
SEM_TARGET_CELL = 512


def sem_n_cells(n_vecs: int) -> int:
    return max(IVF_CELLS, n_vecs // SEM_TARGET_CELL)


def _dd_semantic_dedup_sql(threshold: float = 0.35) -> str:
    """Generated DuckDB twin of semantic_dedup_survivors: same portable
    cell assignment as the IVF twin (corpus-scaled K via the same
    GREATEST/COUNT formula Spark evaluates), unit-normalize per row,
    within-cell pairs (id_a < id_b) whose normalized dot clears the
    threshold mark the HIGHER id as a dupe; survivors are the anti-join."""
    n_cells = (
        f"(SELECT GREATEST({IVF_CELLS}, COUNT(*) // {SEM_TARGET_CELL}) "
        "FROM vecs)"
    )
    return f"""WITH {_dd_ivf_cells_ctes(n_cells)}, normed AS MATERIALIZED (
  SELECT id, cell,
         list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS nv
  FROM asn
), dupes AS (
  SELECT DISTINCT b.id FROM normed a
  JOIN normed b ON a.cell = b.cell AND a.id < b.id
  WHERE list_inner_product(a.nv, b.nv) >= {threshold}
)
SELECT e.vec_id, e.label FROM embeddings e
WHERE NOT EXISTS (SELECT 1 FROM dupes d WHERE d.id = e.vec_id)"""


#: Exact near-pair query is bounded to this id range so the all-pairs join
#: stays quadratic-in-a-constant at every sf (the LSH variant is unbounded).
NEAR_PAIR_ID_BOUND = 1000
NEAR_PAIR_THRESHOLD = 0.35


def embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs over a bounded id range —
    the oracle-checkable baseline for the LSH near-dup path."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < NEAR_PAIR_ID_BOUND)
    return similarity.cosine_pairs(emb, threshold=NEAR_PAIR_THRESHOLD)


_A = V.dd_vec("a.embedding")
_B = V.dd_vec("b.embedding")

EMBEDDING_NEAR_PAIRS_SQL = f"""SELECT id_a, id_b, score FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {V.dd_cosine(_A, _B)} AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < {NEAR_PAIR_ID_BOUND} AND b.vec_id < {NEAR_PAIR_ID_BOUND}
) WHERE score >= {NEAR_PAIR_THRESHOLD}"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH embedding near-dup pairs over the full table (the
    100 TB path; candidates from sign-LSH band buckets). The fixture
    embeddings are near-orthogonal (max pairwise cosine ~0.48), so this
    legitimately returns zero rows at a dedup threshold — planted-duplicate
    recall is covered in tests/test_similarity.py. Fully oracle-checked:
    the Rademacher planes are md5-derived literals the generated DuckDB
    twin inlines, and candidate scores use the proven-portable
    inner-product cosine. The operator prices its own candidate pairs
    once the table's plan estimate reaches dedup.PAIR_GUARD_MIN_BYTES
    (sf1 and up)."""
    return similarity.embedding_cosine_dupes(
        _emb(spark, sf_dir), threshold=0.9, n_planes=64, bands=4
    )


def _dd_embedding_cosine_sql(
    threshold: float = 0.9, n_planes: int = 64, bands: int = 4,
    seed: int = 42, dim: int = 64,
) -> str:
    """Generated DuckDB twin of similarity.embedding_cosine_dupes at the
    registry parameters: the +-1 plane matrix (similarity.sign_planes) is
    inlined as signed terms per projection, band keys assemble the same
    sign bits, and candidates score with the portable fold cosine. The
    fixture embedding dim (64) is baked in — a dim change shows up as a
    NULL-projection row-count mismatch, not silence."""
    planes = similarity.sign_planes(seed, dim, n_planes)
    r = n_planes // bands

    def proj(p: int) -> str:
        return "(" + "".join(
            ("+" if planes[d, p] > 0 else "-") + f"v[{d + 1}]"
            for d in range(dim)
        ) + ")"

    def band_key(b: int) -> str:
        return " + ".join(
            f"(CASE WHEN {proj(b * r + j)} > 0 THEN {1 << j}::BIGINT "
            "ELSE 0::BIGINT END)"
            for j in range(r)
        )

    band_selects = "\n  UNION ALL ".join(
        f"SELECT id, v, {i} AS band, ({band_key(i)}) AS key FROM vecs"
        for i in range(bands)
    )
    return f"""WITH vecs AS MATERIALIZED (
  SELECT vec_id AS id, {V.dd_vec('embedding')} AS v FROM embeddings
), bands AS MATERIALIZED (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.v AS va, b.v AS vb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
SELECT id_a, id_b, {V.dd_cosine('va', 'vb')} AS score
FROM cand WHERE {V.dd_cosine('va', 'vb')} >= {threshold}"""


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-10 with exact rerank, portable-codebook mode
    (``refine_iterations=0``): codewords are md5-chosen normalized
    subvectors — deterministic, data-adaptive, and exactly replayable by
    the generated DuckDB twin (hash-verified; the r3 Lloyd-trained
    variant keeps pytest recall coverage). Candidate stage scans only
    the m-byte code column."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    # Build-once/search-many: the trained+encoded corpus is a pure
    # function of (corpus, m, k_codes, md5 seed policy); staging it in
    # the bounded index cache skips the train/encode jobs on repeat
    # searches AND releases the fat subvector persist (r8: a cold
    # in-session run after storage-heavy queries paid 207s re-training
    # at sf100 under block-manager pressure; the staged index pays once).
    index = _MODEL_CACHE.get_or_build(
        spark,
        (sf_dir, "pq", PQ_M, PQ_CODES),
        lambda: similarity.pq_train_encode(
            emb, PQ_M, PQ_CODES, refine_iterations=0, materialize=True,
        ),
    )
    return similarity.pq_topk(
        emb, queries, k=TOP_K, m=PQ_M, k_codes=PQ_CODES,
        refine_iterations=0, rerank_factor=PQ_RERANK, index=index,
    )


def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-set over the embeddings table, portable-quantizer
    mode (``refine_iterations=0``) — the cluster step replays in the
    generated DuckDB twin, so the survivor set is hash-verified (kept-set
    invariants additionally pytest-tested). Threshold matches the exact
    near-pair query so survivors drop the same planted neighborhood
    structure. K scales with the corpus (see ``SEM_TARGET_CELL``) so the
    within-cell pair stage stays linear at any scale; the twin computes
    the identical K in SQL."""
    emb = _emb(spark, sf_dir)
    n_cells = sem_n_cells(_emb_count(spark, sf_dir))
    return similarity.semantic_dedup_keep(
        emb, n_cells=n_cells,
        threshold=NEAR_PAIR_THRESHOLD, refine_iterations=0, dim=EMB_DIM,
        centroids=_ivf_model(spark, sf_dir, n_cells),
    ).select("vec_id", "label")


QUERIES = {
    # NOTE: no sample_col on the ANN entries — their query set is
    # N_QUERY_VECS=5 ids (an output sample selects ~none, a vacuous 0=0
    # compare) and their twin cost is CORPUS-side (PQ encode replay),
    # which an output-id filter cannot prune. Their sf100 twins run FULL
    # (r8 precedent: pq replay 849s of DuckDB, feasible).
    "ann_bruteforce_topk": _q(ann_bruteforce_topk, ANN_BRUTEFORCE_TOPK_SQL),
    "ann_pq_topk": _q(ann_pq_topk, _dd_pq_topk_sql()),
    "semantic_dedup_survivors": _q(
        semantic_dedup_survivors, _dd_semantic_dedup_sql()
    ),
    "embedding_near_pairs": _q(embedding_near_pairs, EMBEDDING_NEAR_PAIRS_SQL),
    "dedup_embedding_cosine": _q(
        dedup_embedding_cosine, _dd_embedding_cosine_sql(), sample_col="id_a"
    ),
    "ann_nearest_same_label": _q(ann_nearest_same_label, ANN_NEAREST_SAME_LABEL_SQL),
    "embedding_norm_stats": _q(embedding_norm_stats, EMBEDDING_NORM_STATS_SQL),
    "embedding_component_stats": _q(
        embedding_component_stats, EMBEDDING_COMPONENT_STATS_SQL
    ),
    "ann_lsh_topk": _q(ann_lsh_topk, _dd_rp_topk_sql()),
    "ann_ivf_topk": _q(ann_ivf_topk, _dd_ivf_topk_sql()),
}
