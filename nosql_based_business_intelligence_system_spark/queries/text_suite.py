"""Text-analysis + deduplication suite over the ``documents`` table
(north-star scope: language-ID, quality scoring, token counting,
fingerprinting, exact + fuzzy dedup).

Oracle-checked where SQL-expressible; MinHash/SimHash register rows-only
(hash functions aren't portable across engines) with self-consistency
covered in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import SessionCache
from ..functions import text as T
from ..functions.cleaning import dd_dsumd, dsumd
from ..operators import decontam, dedup, heavyhitters, lm
from ..operators.partitioning import is_large
from ..sources.tables import load_table
from .base import Query as _q


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


# --- per-doc text statistics -------------------------------------------------


def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token/quality stats, STAGED so every expensive array op
    runs once per row, and with every census expression CODEGEN-ABLE.
    Higher-order functions (filter/transform/aggregate) are
    CodegenFallback — they evaluate interpreted per row — so beyond the
    r4 staging fix (each array op once), the r6-verdict item replaces
    the remaining lambda HOFs with builtin compositions that whole-stage
    codegen compiles (measured: the interpreted census was sf10 24.4s):

    - token array: ``regexp_extract_all('[^ ]+')`` — identical to
      filter(split(' '), nonempty) since tokens are exactly the maximal
      non-space runs;
    - token length sum: ``length(text) - #spaces`` — total non-space
      chars IS the sum of token lengths, no fold needed;
    - stopword hits: a boundary-anchored case-insensitive alternation
      counted with regexp_extract_all — tokens are space-delimited, so
      ``(?:\\A| )(?:stop|words)(?= |\\z)`` matches exactly the tokens
      whose lowercase equals a stopword (longest-first alternation;
      trailing boundary as lookahead so adjacent hits don't consume
      each other's delimiter). The anchors are ``\\A``/``\\z`` — true
      start/end of input — NOT ``^``/``$``: in Java's default mode
      ``$`` also matches before a final line terminator, so text
      ending "the\\n" would count a stopword hit while the token-based
      oracle (split on spaces → token is "the\\n") counts zero — a
      silent data-dependent hash divergence (r7 advisory).

    Identical output values, so the oracle (and its hash) is unchanged."""
    from ..operators.partitioning import spread

    # map-only over the corpus: without the parallelism guard a single
    # 58MB parquet file (< maxPartitionBytes) runs the whole tokenize
    # census on ONE task (sf10: 17.6s single-core -> ~2s spread)
    d = spread(_docs(spark, sf_dir), "doc_id")
    stop_pat = (
        "(?i)(?:\\A| )(?:"
        + "|".join(sorted(T.STOPWORDS, key=len, reverse=True))
        + ")(?= |\\z)"
    )
    staged = d.select(
        "doc_id",
        "text",
        F.regexp_extract_all("text", F.lit("[^ ]+"), F.lit(0)).alias("__toks"),
    )
    toks = F.col("__toks")
    census = staged.select(
        "doc_id",
        F.size(toks).alias("__nt"),
        F.size(F.array_distinct(toks)).alias("__nd"),
        # literal StringReplace, not regexp_replace: removing the single
        # space char needs no regex engine — one of the census's four
        # full-text passes drops to a memchr-class scan (r13; value- and
        # oracle-identical, the pattern is a literal either way)
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("bigint")
        .alias("__len_sum"),
        F.size(
            F.regexp_extract_all("text", F.lit(stop_pat), F.lit(0))
        ).alias("__stop"),
        F.length("text").alias("__nc"),
        F.length(F.regexp_replace("text", T.PUNCT_CLASS_JVM, "")).alias(
            "__clean"
        ),
    )
    nt, nd = F.col("__nt"), F.col("__nd")
    nc = F.col("__nc")
    ttr = F.when(nt > 0, nd / nt)
    punct = F.when(nc > 0, (nc - F.col("__clean")) / nc)
    quality = (
        F.when((nt >= 10) & (nt <= 5000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.least(F.coalesce(ttr, F.lit(0.0)) * F.lit(2.0), F.lit(1.0))
        * F.lit(0.4)
        + (
            F.lit(0.2)
            - F.least(F.coalesce(punct, F.lit(0.0)) * F.lit(2.0), F.lit(1.0))
            * F.lit(0.2)
        )
    )
    return census.select(
        "doc_id",
        nt.cast("bigint").alias("n_tokens"),
        nd.cast("bigint").alias("n_distinct_tokens"),
        F.when(nt > 0, F.col("__len_sum") / nt).alias("avg_token_len"),
        F.when(nt > 0, F.col("__stop") / nt).alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
        punct.alias("punct_ratio"),
        quality.alias("quality_score"),
    )


_TOKS = T.dd_tokens("text")
_STOP_HITS = f"len(list_filter({_TOKS}, t -> lower(t) IN {T.DD_STOPWORDS}))"

DOC_TEXT_STATS_SQL = f"""SELECT doc_id,
  CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct_tokens,
  CASE WHEN len({_TOKS}) > 0
       THEN list_aggregate([length(t) for t in {_TOKS}], 'sum') * 1.0 / len({_TOKS})
  END AS avg_token_len,
  CASE WHEN len({_TOKS}) > 0
       THEN {_STOP_HITS} * 1.0 / len({_TOKS}) END AS stopword_ratio,
  CASE WHEN len({_TOKS}) > 0
       THEN len(list_distinct({_TOKS})) * 1.0 / len({_TOKS}) END AS type_token_ratio,
  CASE WHEN length(text) > 0
       THEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
            * 1.0 / length(text) END AS punct_ratio,
  (CASE WHEN len({_TOKS}) BETWEEN 10 AND 5000 THEN 0.4 ELSE 0.0 END)
  + least(coalesce(len(list_distinct({_TOKS})) * 1.0 / nullif(len({_TOKS}), 0), 0.0) * 2.0, 1.0) * 0.4
  + (0.2 - least(coalesce((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                 * 1.0 / nullif(length(text), 0), 0.0) * 2.0, 1.0) * 0.2)
    AS quality_score
FROM documents"""


# --- BPE-ish token counting --------------------------------------------------


def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


DOC_TOKEN_COUNTS_SQL = f"""SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{T.TOKEN_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents"""


# --- language-ID heuristic ---------------------------------------------------


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.predicted_lang(toks).alias("predicted_lang"),
    )


DOC_LANG_ID_SQL = f"""SELECT doc_id, lang AS labeled_lang,
  {T.DD_LANG_CASE} AS predicted_lang
FROM (
  SELECT doc_id, lang,
    {T.dd_lang_score(_TOKS, 'en')} AS s_en,
    {T.dd_lang_score(_TOKS, 'es')} AS s_es,
    {T.dd_lang_score(_TOKS, 'de')} AS s_de
  FROM documents
)"""


# --- fingerprinting ----------------------------------------------------------


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content fingerprint (md5 — portable) per doc."""
    return _docs(spark, sf_dir).select(
        "doc_id", T.md5_fingerprint(F.col("text")).alias("fingerprint")
    )


DOC_FINGERPRINTS_SQL = "SELECT doc_id, md5(text) AS fingerprint FROM documents"


# --- exact dedup -------------------------------------------------------------


def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_summary(_docs(spark, sf_dir))


DEDUP_EXACT_SUMMARY_SQL = """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique,
  CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_duplicates
FROM documents"""


def dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving doc ids after exact dedup (lowest id per distinct text)."""
    return dedup.exact_dedup(_docs(spark, sf_dir)).select("doc_id", "source", "lang")


DEDUP_EXACT_KEEP_SQL = """SELECT doc_id, source, lang FROM documents
WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))"""


# --- n-gram Jaccard near-dup -------------------------------------------------


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with trigram-shingle Jaccard >= 0.5 (shingle-key join,
    never O(n^2)); oracle recomputes the identical pipeline in SQL."""
    return dedup.ngram_jaccard_dupes(
        _docs(spark, sf_dir), n=3, threshold=0.5
    )


DEDUP_NGRAM_JACCARD_SQL = f"""WITH sh AS (
  SELECT doc_id AS doc, len(sh_list) AS n_sh, unnest(sh_list) AS shingle
  FROM (SELECT doc_id, {T.dd_shingles(_TOKS, 3)} AS sh_list FROM documents)
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, a.n_sh AS n_a, b.n_sh AS n_b,
         COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       n_common * 1.0 / (n_a + n_b - n_common) AS jaccard
FROM common
WHERE n_common * 1.0 / (n_a + n_b - n_common) >= 0.5"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER inventory: full transitive closure of trigram-
    Jaccard pairs (iterative label propagation, operators/dedup
    .connected_components) -> per-cluster member count. The oracle proves
    the iterative Spark algorithm against a recursive SQL closure
    (DuckDB WITH RECURSIVE)."""
    pairs = dedup.ngram_jaccard_dupes(
        _docs(spark, sf_dir), n=3, threshold=0.5
    )
    cc = dedup.connected_components(pairs)
    return cc.groupBy(F.col("comp").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


#: The candidate-pair CTE prefix (shingle -> common-count -> >=0.5 Jaccard
#: pairs) shared VERBATIM by the ``dedup_clusters`` oracle below and
#: ``tools/verify_clusters_closure.py``'s big-scale edge-list extraction —
#: a named constant so the two cannot drift (the closure tool previously
#: sliced the oracle text with ``oracle.index(', edges AS')``, which any
#: reformatting would silently break).
DEDUP_CLUSTER_PAIR_CTES = f"""sh AS (
  SELECT doc_id AS doc, len(sh_list) AS n_sh, unnest(sh_list) AS shingle
  FROM (SELECT doc_id, {T.dd_shingles(_TOKS, 3)} AS sh_list FROM documents)
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, a.n_sh AS n_a, b.n_sh AS n_b,
         COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2, 3, 4
), dupes AS (
  SELECT doc_a, doc_b FROM common
  WHERE n_common * 1.0 / (n_a + n_b - n_common) >= 0.5
)"""

DEDUP_CLUSTERS_SQL = f"""WITH RECURSIVE {DEDUP_CLUSTER_PAIR_CTES}, edges AS (
  SELECT doc_a AS u, doc_b AS v FROM dupes
  UNION SELECT doc_b, doc_a FROM dupes
), reach(node, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.node
)
SELECT comp AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
FROM (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
GROUP BY comp"""


def dedup_fuzzy_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup: docs SURVIVING near-dup removal (trigram
    Jaccard >= 0.5 pairs resolved by dropping the higher id of each pair —
    dedup.dedup_connected_keep_min). The downstream \"write the cleaned
    corpus\" step of a training-data pipeline, fully oracle-checked."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_dupes(docs, n=3, threshold=0.5)
    return dedup.dedup_connected_keep_min(pairs, docs.select("doc_id")).select(
        "doc_id"
    )


DEDUP_FUZZY_KEEP_SQL = f"""WITH sh AS (
  SELECT doc_id AS doc, len(sh_list) AS n_sh, unnest(sh_list) AS shingle
  FROM (SELECT doc_id, {T.dd_shingles(_TOKS, 3)} AS sh_list FROM documents)
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, a.n_sh AS n_a, b.n_sh AS n_b,
         COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2, 3, 4
), dupes AS (
  SELECT doc_b FROM common
  WHERE n_common * 1.0 / (n_a + n_b - n_common) >= 0.5
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_b FROM dupes)"""


# --- fuzzy dedup (not SQL-portable -> rows-only) -----------------------------


#: Incremental-dedup split: these sources are the already-ingested corpus;
#: everything else is "today's crawl batch".
SEEN_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs between the new crawl batch and the already-ingested
    corpus (dedup.cross_corpus_dupes — asymmetric shingle join; the seen
    side's self-pairs never materialize)."""
    d = _docs(spark, sf_dir)
    seen = F.col("source").isin(*SEEN_SOURCES)
    return dedup.cross_corpus_dupes(
        d.filter(~seen), d.filter(seen), n=3, threshold=0.5
    )


_SEEN_IN = "(" + ", ".join(f"'{s}'" for s in SEEN_SOURCES) + ")"

DEDUP_CROSS_CORPUS_SQL = f"""WITH sh AS (
  SELECT doc_id AS doc, source, len(sh_list) AS n_sh, unnest(sh_list) AS shingle
  FROM (SELECT doc_id, source, {T.dd_shingles(_TOKS, 3)} AS sh_list FROM documents)
), common AS (
  SELECT a.doc AS new_doc, b.doc AS seen_doc, a.n_sh AS n_a, b.n_sh AS n_b,
         COUNT(*) AS n_common
  FROM (SELECT * FROM sh WHERE source NOT IN {_SEEN_IN}) a
  JOIN (SELECT * FROM sh WHERE source IN {_SEEN_IN}) b ON a.shingle = b.shingle
  GROUP BY 1, 2, 3, 4
)
SELECT new_doc, seen_doc,
       n_common * 1.0 / (n_a + n_b - n_common) AS jaccard
FROM common
WHERE n_common * 1.0 / (n_a + n_b - n_common) >= 0.5"""


# --- duplicated-span removal (Lee et al. 2021 chunk approximation) -----------

_SPAN_K = 20


def span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc span dedup: non-overlapping 20-token spans whose exact
    content recurs across docs are removed (globally-first occurrence
    kept); survivors reassembled in order."""
    return dedup.span_dedup(_docs(spark, sf_dir), k=_SPAN_K)


def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level span-dedup census (1 row)."""
    return dedup.span_dedup_summary(_docs(spark, sf_dir), k=_SPAN_K)


_SPAN_FLAGGED_CTE = f"""WITH toks AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents
), spans AS (
  SELECT doc_id, unnest(ch) AS span, generate_subscripts(ch, 1) AS pos
  FROM (
    SELECT doc_id,
      CASE WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
           ELSE list_transform(
             range(0, CAST(ceil(len(tk) / {_SPAN_K}.0) AS BIGINT)),
             i -> array_to_string(tk[i*{_SPAN_K}+1 : i*{_SPAN_K}+{_SPAN_K}], ' '))
      END AS ch
    FROM toks)
), flagged AS (
  SELECT s.doc_id, s.pos, s.span, c.nd,
    ROW_NUMBER() OVER (PARTITION BY s.span ORDER BY s.doc_id, s.pos) AS rn
  FROM spans s
  JOIN (SELECT span, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY span) c
    USING (span)
)"""

SPAN_DEDUP_DOCS_SQL = f"""{_SPAN_FLAGGED_CTE}, perdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
    CAST(SUM(CASE WHEN nd >= 2 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_removed_spans,
    string_agg(span, ' ' ORDER BY pos) FILTER (WHERE nd < 2 OR rn = 1)
      AS kept_text
  FROM flagged GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(coalesce(p.n_removed_spans, 0) AS BIGINT) AS n_removed_spans,
  coalesce(p.kept_text, '') AS kept_text
FROM documents d LEFT JOIN perdoc p USING (doc_id)"""

SPAN_DEDUP_STATS_SQL = f"""{_SPAN_FLAGGED_CTE}
SELECT CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(COUNT(DISTINCT span) AS BIGINT) AS n_distinct_spans,
  CAST(SUM(CASE WHEN nd >= 2 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_removed_spans,
  CAST(COUNT(DISTINCT CASE WHEN nd >= 2 AND rn > 1 THEN doc_id END) AS BIGINT)
    AS n_docs_affected,
  CAST(coalesce(SUM(CASE WHEN nd >= 2 AND rn > 1 THEN length(span) END), 0)
    AS BIGINT) AS chars_removed
FROM flagged"""


# --- RAG chunking ------------------------------------------------------------

_CHUNK_TOKENS = 64
_CHUNK_OVERLAP = 16


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks (RAG prep): 64-token windows,
    16-token overlap; map-only, oracle-checked."""
    from ..operators import chunk

    return chunk.chunk_documents(
        _docs(spark, sf_dir),
        chunk_tokens=_CHUNK_TOKENS,
        overlap_tokens=_CHUNK_OVERLAP,
    )


def _doc_chunks_sql() -> str:
    from ..operators import chunk

    return chunk.dd_chunk_documents(
        chunk_tokens=_CHUNK_TOKENS, overlap_tokens=_CHUNK_OVERLAP
    )


# --- DSIR importance weighting -----------------------------------------------


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR log importance weights of every doc against the English-
    labeled subset as the target domain. Fully oracle-checked: the
    bucket hash is the engine-portable md5 bucket (dsir.hash_bucket) and
    logw rounds to 6 decimals on both engines (libm-vs-JVM ln ulp
    discipline, same as doc_lm_perplexity); full-precision model parity
    is additionally pytest-proven in tests/test_dsir.py."""
    from ..operators import dsir

    d = _docs(spark, sf_dir)
    return dsir.importance_weights_subset(
        d, F.col("lang") == "en", round_digits=6
    )


def dsir_selected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25% most target-like docs by DSIR weight (deterministic
    cutoff; TakeOrdered plan, no global sort). Oracle-checked: sorts on
    the ROUNDED weight so a last-ulp divergence can't flip the cut."""
    from ..operators import dsir

    d = _docs(spark, sf_dir)
    return dsir.importance_resample(
        d,
        None,
        fraction=0.25,
        round_digits=6,
        target_pred=F.col("lang") == "en",
    )


def _dd_dsir_weights_cte() -> str:
    """Shared DuckDB CTE chain computing (doc_id, n_grams, logw) — the
    line-for-line twin of dsir.importance_weights at n=2, 2^16 buckets,
    round 6."""
    from ..operators.dsir import dd_hash_bucket

    nb = 1 << 16
    toks = T.dd_tokens("text")
    grams = T.dd_shingles_all("t", 2)
    return f"""raw AS (
  SELECT doc_id, {toks} AS t FROM documents
), tgt AS (
  SELECT {toks} AS t FROM documents WHERE lang = 'en'
), rb AS (
  SELECT doc_id, {dd_hash_bucket('g', nb)} AS bucket
  FROM (SELECT doc_id, unnest({grams}) AS g FROM raw)
), tb AS (
  SELECT {dd_hash_bucket('g', nb)} AS bucket
  FROM (SELECT unnest({grams}) AS g FROM tgt)
), tc AS (
  SELECT bucket, COUNT(*) AS ct FROM tb GROUP BY 1
), rc AS (
  SELECT bucket, COUNT(*) AS cr FROM rb GROUP BY 1
), tt AS (SELECT SUM(ct) AS nt FROM tc),
rt AS (SELECT SUM(cr) AS nr FROM rc),
scored AS (
  SELECT rb.doc_id, COUNT(*) AS n_grams,
         SUM(ln(COALESCE(tc.ct, 0) + 1.0) - ln(tt.nt + {float(nb)})
             - ln(COALESCE(rc.cr, 0) + 1.0) + ln(rt.nr + {float(nb)})
         ) AS logw
  FROM rb LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
  CROSS JOIN tt CROSS JOIN rt
  GROUP BY rb.doc_id
), weights AS (
  SELECT d.doc_id,
         CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
         ROUND(COALESCE(s.logw, 0.0), 6) AS logw
  FROM documents d LEFT JOIN scored s USING (doc_id)
)"""


DSIR_IMPORTANCE_WEIGHTS_SQL = f"""WITH {_dd_dsir_weights_cte()}
SELECT doc_id, n_grams, logw FROM weights"""

DSIR_SELECTED_DOCS_SQL = f"""WITH {_dd_dsir_weights_cte()},
k AS (
  SELECT GREATEST(CAST(FLOOR(COUNT(*) * 0.25) AS BIGINT), 1) AS k
  FROM documents
)
SELECT doc_id, n_grams, logw FROM (
  SELECT w.*, k.k,
         ROW_NUMBER() OVER (
           ORDER BY (n_grams > 0) DESC, logw DESC, doc_id ASC
         ) AS rn
  FROM weights w CROSS JOIN k
) WHERE rn <= k"""


# --- BPE vocabulary training -------------------------------------------------

_BPE_MERGES = 12


def bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge list over the corpus (rank order). Rows-only:
    the merge loop isn't SQL-expressible — exact parity with an
    independent reference trainer is pytest-proven (tests/test_bpe.py)."""
    from ..operators import bpe

    merges = bpe.bpe_train(_docs(spark, sf_dir), n_merges=_BPE_MERGES)
    return spark.createDataFrame(
        [(i, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "rank int, a string, b string, freq bigint",
    )


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc subword token counts under the trained BPE vocab (encode
    is the Arrow-batched sequential path; rows-only)."""
    from ..operators import bpe

    d = _docs(spark, sf_dir)
    merges = bpe.bpe_train(d, n_merges=_BPE_MERGES)
    return bpe.bpe_encode(d, merges).select("doc_id", "n_tokens")


#: Staged MinHash signatures per (sf_dir, params) — the signature pass is
#: ~40% of a cold dedup run (sf10: ~5s of 22s post-r7; 14s pre-r7), and a
#: session re-running dedup against the same corpus (dashboard refresh,
#: bench loop) should pay it once, exactly like the IVF index. Bounded
#: LRU: eviction releases the checkpoint blocks (caching.SessionCache).
_SIG_CACHE = SessionCache("minhash-signatures", capacity=4)


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH fuzzy dedup, fully oracle-checked: the md5 base hash,
    universal-hash mins (exact decimal/HUGEINT arithmetic), band keys and
    agreement count are all engine-portable, so the generated DuckDB twin
    reproduces the banded candidate set and estimates bit-for-bit."""
    sig = _SIG_CACHE.get_or_build(
        spark,
        (sf_dir, 3, 64, 42),
        lambda: dedup.minhash_signatures(
            _docs(spark, sf_dir), "text", "doc_id", 3, 64, 42
        ).localCheckpoint(eager=False),
    )
    return dedup.minhash_lsh_dupes(
        _docs(spark, sf_dir), jaccard_threshold=0.5, signatures=sig,
    ).select("doc_a", "doc_b", "est_jaccard")


def dedup_minhash_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH dedup with the SCALE contract: band buckets larger
    than ``max_docs_per_band_key=50`` are dropped before pairing.

    This is the entry a 100 TB deployment should run. The unguarded
    ``dedup_minhash`` contract is quadratic-candidate-infeasible at the
    third decade — band collisions between NON-duplicate pairs arrive at
    ~bands*s̄^r per pair (s̄ ≈ baseline corpus Jaccard), so candidates
    grow with corpus size squared: measured 29.6M candidates at 500k
    docs -> 6.26e9 (~300GB of candidate shuffle) at 5M docs (PLANS.md
    sf100 hazard 1). With cap=50 the sf100 run completes in 175.2s with
    258,637 pairs. RECALL TRADE (documented, pin-tested
    tests/test_skew.py::test_minhash_band_key_guard_caps_giant_buckets):
    a pair whose EVERY collision band lands in an over-cap bucket is
    lost — but a multi-thousand-doc bucket at threshold-worthy
    similarity is boilerplate, not duplication, so precision is
    unaffected and the planted-near-dup pin keeps surfacing. On corpora
    whose buckets all fit the cap (e.g. sf0.01 fixtures), output is
    IDENTICAL to the unguarded entry. Same generated DuckDB twin with a
    QUALIFY bucket-size cut, so the guard itself is oracle-checked."""
    sig = _SIG_CACHE.get_or_build(
        spark,
        (sf_dir, 3, 64, 42),
        lambda: dedup.minhash_signatures(
            _docs(spark, sf_dir), "text", "doc_id", 3, 64, 42
        ).localCheckpoint(eager=False),
    )
    return dedup.minhash_lsh_dupes(
        _docs(spark, sf_dir),
        jaccard_threshold=0.5,
        signatures=sig,
        max_docs_per_band_key=50,
    ).select("doc_a", "doc_b", "est_jaccard")


def _dd_mh_fragments(
    num_hashes: int, bands: int, seed: int
) -> tuple[str, str, str]:
    """Shared SQL fragments for the MinHash DuckDB twins (self-join and
    cross-corpus): the per-doc signature min columns (same coefficients
    as dedup.mh_coefficients, same two's-complement int64 wrap emulated
    in HUGEINT — reduce mod 2^64, then map the top half down), the
    banded UNION ALL selects, and the pairwise agreement expression."""
    from ..operators.dedup import mh_coefficients

    r = num_hashes // bands
    coeffs = mh_coefficients(num_hashes, seed)
    two64, two63 = 1 << 64, 1 << 63
    def _wrap(a: int, b: int) -> str:
        # branch-free signed wrap: shift into [0, 2^64), mod, shift back
        # (equivalent to the CASE formulation; ~25% faster in DuckDB since
        # the modded value isn't evaluated twice)
        return (
            f"CAST((({a}::HUGEINT * h + {b + two63}) % {two64}) - {two63} "
            f"AS BIGINT)"
        )
    min_cols = ",\n         ".join(
        f"MIN({_wrap(a, b)}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT *, {i} AS band, "
        f"m{i * r}::VARCHAR || "
        + " || ".join(
            f"',' || m{i * r + j}::VARCHAR" for j in range(1, r)
        )
        + " AS key FROM sig"
        for i in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return min_cols, band_selects, agree


def _dd_minhash_sql(
    num_hashes: int = 64, bands: int = 32, seed: int = 42, n: int = 3,
    threshold: float = 0.5, max_docs_per_band_key: int | None = None,
) -> str:
    """Generated DuckDB twin of dedup.minhash_lsh_dupes at the registry
    parameters — same coefficients (dedup.mh_coefficients), the same
    two's-complement int64 wrap (emulated in HUGEINT: reduce mod 2^64,
    then map the top half down), same band keys, same agreement
    estimate. ``max_docs_per_band_key`` twins the guarded entry: drop
    over-cap (band, key) buckets before pairing via QUALIFY — the same
    drop-then-pair semantics as the operator's bucket-grouping path."""
    toks = T.dd_tokens("text")
    grams = T.dd_shingles("t", n)  # distinct per-doc shingle strings
    min_cols, band_selects, agree = _dd_mh_fragments(num_hashes, bands, seed)
    if max_docs_per_band_key is not None:
        guard_cte = f""", kept AS MATERIALIZED (
  SELECT * FROM bands
  QUALIFY count(*) OVER (PARTITION BY band, key)
          <= {max_docs_per_band_key}
)"""
        pair_src = "kept"
    else:
        guard_cte = ""
        pair_src = "bands"
    return f"""WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
), base AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest({grams}) AS g FROM toks)
), sig AS MATERIALIZED (
  -- MATERIALIZED: the 32 band branches below each reference sig; DuckDB
  -- inlines CTEs by default, which would recompute the 64-min aggregate
  -- once per band
  SELECT doc_id,
         {min_cols}
  FROM base GROUP BY doc_id
), bands AS MATERIALIZED (
  {band_selects}
){guard_cte}, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ({agree}) / {float(num_hashes)} AS est_jaccard
  FROM {pair_src} a JOIN {pair_src} b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, est_jaccard FROM cand
WHERE est_jaccard >= {threshold}"""


#: Band-bucket cap for the guarded (100 TB-contract) MinHash entries —
#: the value the sf100 rehearsal proved out (PLANS.md r7 hazard 1:
#: cap=50 completes sf100 in 175.2s; unguarded = 6.26e9 candidates).
MINHASH_BAND_CAP = 50


def dedup_fuzzy_keep_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup keep-list at the 100 TB contract: docs
    surviving near-dup removal with candidates from GUARDED MinHash-LSH
    banding (cap=50) instead of trigram shingles — the r9 disk guard
    priced the trigram candidate stage at 2.9e11 pairs / ~4.7 TB at
    sf100 (quadratic-infeasible by construction), while the guarded
    banding completes the third decade in minutes. Pair resolution is
    unchanged (drop the higher id of each pair,
    dedup.dedup_connected_keep_min). RECALL TRADE inherited from
    dedup_minhash_guarded: a near-dup pair detectable only through an
    over-cap band bucket keeps BOTH docs (boilerplate-bucket pairs are
    the ones lost); est_jaccard >= 0.5 replaces exact trigram Jaccard
    >= 0.5 (probabilistic recall ~1-(1-s^2)^32). The legacy trigram
    entry (dedup_fuzzy_keep) stays registered for <=sf10 hash history."""
    docs = _docs(spark, sf_dir)
    sig = _SIG_CACHE.get_or_build(
        spark,
        (sf_dir, 3, 64, 42),
        lambda: dedup.minhash_signatures(
            docs, "text", "doc_id", 3, 64, 42
        ).localCheckpoint(eager=False),
    )
    pairs = dedup.minhash_lsh_dupes(
        docs, jaccard_threshold=0.5, signatures=sig,
        max_docs_per_band_key=MINHASH_BAND_CAP,
    )
    return dedup.dedup_connected_keep_min(pairs, docs.select("doc_id")).select(
        "doc_id"
    )


def _dd_fuzzy_keep_minhash_sql() -> str:
    mh = _dd_minhash_sql(max_docs_per_band_key=MINHASH_BAND_CAP)
    return f"""SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_b FROM ({mh}) mh)"""


def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER inventory at the 100 TB contract: transitive
    closure (operators/dedup.connected_components) over GUARDED
    MinHash-LSH pairs (cap=50) -> per-cluster member count. Same closure
    machinery and oracle shape as the trigram dedup_clusters entry
    (recursive-CTE closure in DuckDB over the generated MinHash twin),
    with the scale-safe candidate stage; recall trade as documented on
    dedup_fuzzy_keep_minhash."""
    pairs = dedup.minhash_lsh_dupes(
        _docs(spark, sf_dir),
        jaccard_threshold=0.5,
        signatures=_SIG_CACHE.get_or_build(
            spark,
            (sf_dir, 3, 64, 42),
            lambda: dedup.minhash_signatures(
                _docs(spark, sf_dir), "text", "doc_id", 3, 64, 42
            ).localCheckpoint(eager=False),
        ),
        max_docs_per_band_key=MINHASH_BAND_CAP,
    )
    cc = dedup.connected_components(pairs)
    return cc.groupBy(F.col("comp").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


def _dd_clusters_minhash_sql() -> str:
    mh = _dd_minhash_sql(max_docs_per_band_key=MINHASH_BAND_CAP)
    return f"""WITH RECURSIVE dupes AS (
  SELECT doc_a, doc_b FROM ({mh}) mh
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM dupes
  UNION SELECT doc_b, doc_a FROM dupes
), reach(node, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.node
)
SELECT comp AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
FROM (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
GROUP BY comp"""


def dedup_cross_corpus_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl near-dup pairs (new batch x ingested corpus) at
    the 100 TB contract: guarded MinHash-LSH banding on each side joined
    bucket-to-bucket on (band, key)
    (operators/dedup.minhash_cross_corpus_dupes) instead of the trigram
    shingle join of dedup_cross_corpus. Same new/seen split
    (SEEN_SOURCES); recall trade as documented on
    dedup_fuzzy_keep_minhash, applied per side."""
    d = _docs(spark, sf_dir)
    seen = F.col("source").isin(*SEEN_SOURCES)
    return dedup.minhash_cross_corpus_dupes(
        d.filter(~seen),
        d.filter(seen),
        jaccard_threshold=0.5,
        max_docs_per_band_key=MINHASH_BAND_CAP,
    )


def _dd_minhash_cross_sql(
    num_hashes: int = 64, bands: int = 32, seed: int = 42, n: int = 3,
    threshold: float = 0.5,
    max_docs_per_band_key: int | None = MINHASH_BAND_CAP,
) -> str:
    """Generated DuckDB twin of dedup.minhash_cross_corpus_dupes at the
    registry split: same signature fragments as the self-join twin
    (signatures are per-doc, so computing them over the union equals the
    operator's per-side computation), per-side QUALIFY bucket cuts
    mirroring the per-side cap, and a new x seen (band, key) join with
    no doc-order constraint."""
    toks = T.dd_tokens("text")
    grams = T.dd_shingles("t", n)
    min_cols, band_selects, agree = _dd_mh_fragments(num_hashes, bands, seed)
    cap_q = (
        f"\n  QUALIFY count(*) OVER (PARTITION BY band, key)"
        f" <= {max_docs_per_band_key}"
        if max_docs_per_band_key is not None
        else ""
    )
    return f"""WITH toks AS (
  SELECT doc_id, source, {toks} AS t FROM documents
), base AS (
  SELECT doc_id, source, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, source, unnest({grams}) AS g FROM toks)
), sig AS MATERIALIZED (
  SELECT doc_id, source,
         {min_cols}
  FROM base GROUP BY doc_id, source
), bands AS MATERIALIZED (
  {band_selects}
), newb AS MATERIALIZED (
  SELECT * FROM bands WHERE source NOT IN {_SEEN_IN}{cap_q}
), seenb AS MATERIALIZED (
  SELECT * FROM bands WHERE source IN {_SEEN_IN}{cap_q}
), cand AS (
  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS seen_doc,
         ({agree}) / {float(num_hashes)} AS est_jaccard
  FROM newb a JOIN seenb b
    ON a.band = b.band AND a.key = b.key
)
SELECT new_doc, seen_doc, est_jaccard FROM cand
WHERE est_jaccard >= {threshold}"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, fully oracle-checked: 60-bit fingerprints
    over the portable md5 base hash, 15-bit band pigeonhole, bit_count
    Hamming — all reproduced by the generated DuckDB twin."""
    return dedup.simhash_dupes(_docs(spark, sf_dir), max_hamming=3)


def _dd_simhash_sql(max_hamming: int = 3) -> str:
    """Generated DuckDB twin of dedup.simhash_dupes: same 60-bit votes,
    same fingerprint assembly, same 4 x 15-bit bands, same Hamming cut."""
    from ..operators.dedup import SIMHASH_BITS

    toks = T.dd_tokens("text")
    vote_cols = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, fp, {i} AS band, (fp >> {15 * i}) & 32767 AS key "
        "FROM fp"
        for i in range(4)
    )
    return f"""WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(list_distinct(t)) AS tok FROM toks)
), votes AS MATERIALIZED (
  SELECT doc_id,
         {vote_cols}
  FROM hashed GROUP BY doc_id
), fp AS MATERIALIZED (
  SELECT doc_id, ({fp_expr}) AS fp FROM votes
), bands AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.fp AS fp_a, b.fp AS fp_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}"""


# --- JSON prop extraction over events (get_json_object) ---------------------


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.avg(k).alias("avg_k"),
        F.sum(k).alias("sum_k"),
    )


EVENTS_JSON_PROPS_SQL = """SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type"""


#: TF-IDF query is bounded to this many docs so the per-term fanout stays
#: constant per sf; df/idf are computed within the same subset.
TFIDF_DOC_BOUND = 50
TFIDF_TOP_K = 3


def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (keyword extraction): explode ->
    per-(doc,term) tf -> per-term df -> idf join -> rank window. All
    aggregations key-partitioned; the idf side is tiny and broadcasts."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < TFIDF_DOC_BOUND)
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tok.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf", F.col("tf") * F.log(F.lit(float(TFIDF_DOC_BOUND)) / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


DOC_TOP_TERMS_SQL = f"""WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents WHERE doc_id < {TFIDF_DOC_BOUND}
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term
)
SELECT doc_id, term, tf, df, tfidf, rank FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * ln({float(TFIDF_DOC_BOUND)} / dfreq.df) AS tfidf,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * ln({float(TFIDF_DOC_BOUND)} / dfreq.df) DESC, tf.term ASC
         ) AS BIGINT) AS rank
  FROM tf JOIN dfreq ON tf.term = dfreq.term
) WHERE rank <= {TFIDF_TOP_K}"""


#: Deterministic per-stratum sample rates (percent) — Knuth multiplicative
#: hash on the id keeps the selection portable across engines (no RNG).
SAMPLE_RATES = {"en": 20, "es": 50, "de": 50}
SAMPLE_DEFAULT = 80
_KNUTH = 2654435761


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus downsampling (per-language rates) with a
    DETERMINISTIC selector: keep iff (id * knuth) % 100 < rate[stratum].
    The training-data shape of sampling — reproducible across runs and
    engines, no seed bookkeeping; selection is uniform because the
    multiplicative hash scrambles sequential ids."""
    d = _docs(spark, sf_dir)
    rate = F.lit(SAMPLE_DEFAULT)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    bucket = (F.col("doc_id") * F.lit(_KNUTH)) % 100
    return (
        d.withColumn("__keep", bucket < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("__keep").cast("int")).cast("bigint").alias("n_sampled"),
        )
    )


#: Docs kept per source by the weighted sampler.
WEIGHTED_SAMPLE_K = 25


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-weighted corpus sampling, RNG-free: per source, keep the 25
    docs with the smallest ``uniform_hash(doc_id) / n_chars`` priority —
    longer docs get proportionally smaller priorities, so the sample
    leans toward token-rich documents (the training-mix shape: sample by
    token budget, not by document count). md5-derived randomness makes
    the selection bit-identical in any engine (no seed bookkeeping, no
    RNG state); ties are impossible in practice and doc_id tiebreaks the
    rank anyway. One shuffle (by source) for the top-k window.
    """
    d = _docs(spark, sf_dir)
    pri = (
        T.md5_uniform_int(F.col("doc_id").cast("string"))
        / F.col("n_chars")
    )
    w = Window.partitionBy("source").orderBy(pri.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= WEIGHTED_SAMPLE_K)
        .select("source", "doc_id", "n_chars", "sample_rank")
    )


_DD_PRI = (
    f"{T.dd_md5_uniform_int('CAST(doc_id AS VARCHAR)')} * 1.0 / n_chars"
)

CORPUS_WEIGHTED_SAMPLE_SQL = f"""SELECT source, doc_id, n_chars,
  CAST(sample_rank AS INTEGER) AS sample_rank
FROM (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {_DD_PRI} ASC, doc_id ASC) AS sample_rank
  FROM documents
)
WHERE sample_rank <= {WEIGHTED_SAMPLE_K}"""


#: train/val/test split in percent (deterministic hash buckets).
SPLIT_PCT = (("train", 90), ("val", 5), ("test", 5))


def docs_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic holdout splitting — the step every training corpus
    needs before anything touches it. Each doc's md5-derived bucket in
    [0,100) maps to train/val/test by cumulative percent: no RNG, no
    seed state, stable under re-runs/engines/partitioning, and a doc
    never migrates between splits when the corpus grows (its bucket
    depends only on its id). Output: per (source, split) doc and char
    counts."""
    d = _docs(spark, sf_dir)
    bucket = T.md5_uniform_int(F.col("doc_id").cast("string")) % 100
    edges, acc = [], 0
    for name, pct in SPLIT_PCT:
        acc += pct
        edges.append((name, acc))
    split = F.lit(edges[-1][0])
    for name, hi in reversed(edges[:-1]):
        split = F.when(bucket < hi, F.lit(name)).otherwise(split)
    return (
        d.withColumn("split", split)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


_DD_BUCKET = f"({T.dd_md5_uniform_int('CAST(doc_id AS VARCHAR)')} % 100)"
_DD_SPLIT = "CASE " + " ".join(
    f"WHEN {_DD_BUCKET} < {hi} THEN '{name}'"
    for name, hi in [
        (n, sum(p for _, p in SPLIT_PCT[: i + 1])) for i, (n, _) in enumerate(SPLIT_PCT)
    ][:-1]
) + f" ELSE '{SPLIT_PCT[-1][0]}' END"

DOCS_SPLIT_ASSIGNMENT_SQL = f"""SELECT source, {_DD_SPLIT} AS split,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM documents GROUP BY 1, 2"""


#: Declared training-mixture shares by language (what the run should be
#: made of) and the total char budget to fill at sf0.01-like scale.
MIX_TARGETS = (("en", 0.40), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))
MIX_CHAR_BUDGET = 100_000


def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planning: given declared per-language shares and
    a char budget, compute what each language can actually contribute
    (capped by availability) and the sampling rate that achieves it —
    the arithmetic every data-mixing job runs before sampling. Pure
    aggregate + deterministic double arithmetic (bigints < 2^53 convert
    exactly; both engines evaluate the identical formula)."""
    d = _docs(spark, sf_dir)
    share = F.lit(0.0)
    for lang, s in MIX_TARGETS:
        share = F.when(F.col("lang") == lang, F.lit(s)).otherwise(share)
    avail = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("available_chars"),
        F.max(share).alias("target_share"),
    )
    want = F.col("target_share") * F.lit(float(MIX_CHAR_BUDGET))
    planned = F.least(F.col("available_chars").cast("double"), want)
    return avail.select(
        "lang",
        "n_docs",
        "available_chars",
        "target_share",
        planned.alias("planned_chars"),
        (planned / F.col("available_chars")).alias("sample_rate"),
        (F.col("available_chars") < want).alias("short_of_target"),
    )


# CAST: DuckDB parses bare decimal literals as DECIMAL, Spark as DOUBLE —
# without it target_share hashes as Decimal('0.40') vs 0.4
_DD_SHARE = "CAST(CASE " + " ".join(
    f"WHEN lang = '{k}' THEN {v}" for k, v in MIX_TARGETS
) + " ELSE 0.0 END AS DOUBLE)"

CORPUS_MIXTURE_PLAN_SQL = f"""WITH avail AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS available_chars,
         MAX({_DD_SHARE}) AS target_share
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, available_chars, target_share,
  LEAST(CAST(available_chars AS DOUBLE),
        target_share * {float(MIX_CHAR_BUDGET)}) AS planned_chars,
  LEAST(CAST(available_chars AS DOUBLE),
        target_share * {float(MIX_CHAR_BUDGET)}) / available_chars
    AS sample_rate,
  (available_chars < target_share * {float(MIX_CHAR_BUDGET)})
    AS short_of_target
FROM avail"""


_RATE_CASE = "CASE " + " ".join(
    f"WHEN lang = '{k}' THEN {v}" for k, v in SAMPLE_RATES.items()
) + f" ELSE {SAMPLE_DEFAULT} END"

DOCS_STRATIFIED_SAMPLE_SQL = f"""SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN (doc_id * {_KNUTH}) % 100 < {_RATE_CASE}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents GROUP BY lang"""


def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus screening: volume, mean quality score, mean token
    count, language-ID agreement rate — the go/no-go table a data-curation
    pipeline produces per crawl source."""
    d = _docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    per_doc = d.select(
        "source",
        T.quality_score(toks, F.col("text")).alias("q"),
        T.n_tokens(toks).alias("nt"),
        (T.predicted_lang(toks) == F.col("lang")).cast("int").alias("lang_ok"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # q is an arbitrary-float score: decimal-accumulated mean (order-
        # independent); nt/lang_ok are integer-valued -> exact as doubles
        (dsumd(F.col("q")) / F.count(F.lit(1))).alias("avg_quality"),
        F.avg("nt").alias("avg_tokens"),
        F.avg("lang_ok").alias("lang_id_agreement"),
    )


_Q_EXPR = f"""(CASE WHEN len({_TOKS}) BETWEEN 10 AND 5000 THEN 0.4 ELSE 0.0 END)
  + least(coalesce(len(list_distinct({_TOKS})) * 1.0 / nullif(len({_TOKS}), 0), 0.0) * 2.0, 1.0) * 0.4
  + (0.2 - least(coalesce((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                 * 1.0 / nullif(length(text), 0), 0.0) * 2.0, 1.0) * 0.2)"""

SOURCE_QUALITY_REPORT_SQL = f"""SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  {dd_dsumd('q')} / COUNT(*) AS avg_quality,
  AVG(nt) AS avg_tokens,
  AVG(lang_ok) AS lang_id_agreement
FROM (
  SELECT source, {_Q_EXPR} AS q, len({_TOKS}) AS nt,
         CASE WHEN ({T.DD_LANG_CASE.replace("s_en", "sc_en").replace("s_es", "sc_es").replace("s_de", "sc_de")}) = lang
              THEN 1 ELSE 0 END AS lang_ok
  FROM (
    SELECT source, lang, text,
      {T.dd_lang_score(_TOKS, 'en')} AS sc_en,
      {T.dd_lang_score(_TOKS, 'es')} AS sc_es,
      {T.dd_lang_score(_TOKS, 'de')} AS sc_de
    FROM documents
  )
) GROUP BY source"""


# --- Gopher-style quality filter --------------------------------------------

#: Rule thresholds (Rae et al. "Scaling Language Models" repetition/quality
#: rules, adapted to this corpus's 10-99-token documents so every rule is
#: exercised: min-token and stopword rules fail a meaningful fraction at
#: sf0.01; word-length and symbol rules are permissive but present).
GOPHER_MIN_TOKENS = 20
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MAX_DUP3 = 0.1
GOPHER_MAX_SYMBOL = 0.1


def quality_flags(d: DataFrame) -> DataFrame:
    """Per-doc Gopher-style quality rules -> per-rule pass flags + keep.

    Pure column expressions (no UDF): token bounds, mean word length,
    stopword floor, repeated-3-gram ceiling, symbol-ratio ceiling.
    STATELESS (projection only), so the identical plan runs batch or
    streaming (tests/test_streaming.py proves parity).

    Staged projections on purpose: tokens and shingle hashes are
    materialized ONCE per row (withColumn), then every stat reads the
    array column. Referencing the tokenize/shingle *expressions* from
    each output column re-evaluates them per column — measured 6x slower
    on this very query (12s -> 2s at sf0.1)."""
    toks = F.col("__toks")
    staged = (
        d.select("doc_id", "text", T.tokens(F.col("text")).alias("__toks"))
        .withColumn("__sh", T.word_shingle_hashes(toks, 3))
        .withColumn("__dup3", T.dup_ratio_from_shingles(F.col("__sh")))
    )
    nt = T.n_tokens(toks)
    awl = T.avg_token_len(toks)
    sw = T.stopword_count(toks)
    dup3 = F.col("__dup3")
    sym = T.punct_ratio(F.col("text"))
    ok_len = (nt >= GOPHER_MIN_TOKENS) & (nt <= GOPHER_MAX_TOKENS)
    ok_wl = (awl >= GOPHER_MIN_WORD_LEN) & (awl <= GOPHER_MAX_WORD_LEN)
    ok_sw = sw >= GOPHER_MIN_STOPWORDS
    ok_rep = dup3 <= GOPHER_MAX_DUP3
    ok_sym = sym <= GOPHER_MAX_SYMBOL
    return staged.select(
        "doc_id",
        nt.alias("n_tokens"),
        dup3.alias("dup_3gram_ratio"),
        ok_len.cast("int").alias("ok_token_count"),
        ok_wl.cast("int").alias("ok_word_len"),
        ok_sw.cast("int").alias("ok_stopwords"),
        ok_rep.cast("int").alias("ok_repetition"),
        ok_sym.cast("int").alias("ok_symbol"),
        (ok_len & ok_wl & ok_sw & ok_rep & ok_sym).cast("int").alias("keep"),
    )


def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_flags(_docs(spark, sf_dir))


_AWL = f"list_aggregate([length(t) for t in {_TOKS}], 'sum') * 1.0 / len({_TOKS})"
_DUP3 = T.dd_dup_ngram_ratio(_TOKS)
_SW_CNT = T.dd_stopword_count(_TOKS)
_SYM = (
    "coalesce((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))"
    " * 1.0 / nullif(length(text), 0), 0.0)"
)

DOC_QUALITY_FILTER_SQL = f"""SELECT doc_id,
  CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
  {_DUP3} AS dup_3gram_ratio,
  CAST(CASE WHEN len({_TOKS}) BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
       THEN 1 ELSE 0 END AS INT) AS ok_token_count,
  CAST(CASE WHEN {_AWL} BETWEEN {GOPHER_MIN_WORD_LEN} AND {GOPHER_MAX_WORD_LEN}
       THEN 1 ELSE 0 END AS INT) AS ok_word_len,
  CAST(CASE WHEN {_SW_CNT} >= {GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END AS INT)
    AS ok_stopwords,
  CAST(CASE WHEN {_DUP3} <= {GOPHER_MAX_DUP3} THEN 1 ELSE 0 END AS INT)
    AS ok_repetition,
  CAST(CASE WHEN {_SYM} <= {GOPHER_MAX_SYMBOL} THEN 1 ELSE 0 END AS INT)
    AS ok_symbol,
  CAST(CASE WHEN len({_TOKS}) BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
        AND {_AWL} BETWEEN {GOPHER_MIN_WORD_LEN} AND {GOPHER_MAX_WORD_LEN}
        AND {_SW_CNT} >= {GOPHER_MIN_STOPWORDS}
        AND {_DUP3} <= {GOPHER_MAX_DUP3}
        AND {_SYM} <= {GOPHER_MAX_SYMBOL}
       THEN 1 ELSE 0 END AS INT) AS keep
FROM documents"""


def gopher_filter_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row filter funnel: corpus size, survivors, per-rule fail counts
    (a rule's fail count is independent of the other rules, as in a
    filtering ablation report)."""
    flags = doc_quality_filter(spark, sf_dir)
    one = F.count(F.lit(1))
    return flags.agg(
        one.alias("n_docs"),
        F.sum("keep").cast("bigint").alias("n_keep"),
        (one - F.sum("ok_token_count")).cast("bigint").alias("n_fail_token_count"),
        (one - F.sum("ok_word_len")).cast("bigint").alias("n_fail_word_len"),
        (one - F.sum("ok_stopwords")).cast("bigint").alias("n_fail_stopwords"),
        (one - F.sum("ok_repetition")).cast("bigint").alias("n_fail_repetition"),
        (one - F.sum("ok_symbol")).cast("bigint").alias("n_fail_symbol"),
    )


GOPHER_FILTER_SUMMARY_SQL = f"""SELECT
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(keep) AS BIGINT) AS n_keep,
  CAST(COUNT(*) - SUM(ok_token_count) AS BIGINT) AS n_fail_token_count,
  CAST(COUNT(*) - SUM(ok_word_len) AS BIGINT) AS n_fail_word_len,
  CAST(COUNT(*) - SUM(ok_stopwords) AS BIGINT) AS n_fail_stopwords,
  CAST(COUNT(*) - SUM(ok_repetition) AS BIGINT) AS n_fail_repetition,
  CAST(COUNT(*) - SUM(ok_symbol) AS BIGINT) AS n_fail_symbol
FROM ({DOC_QUALITY_FILTER_SQL})"""


# --- token rarity / familiarity ----------------------------------------------


def doc_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token-rarity profile against the corpus unigram table: how
    'familiar' each doc's vocabulary is (the integer-exact cousin of a
    unigram-LM logprob score — rare-token-heavy docs are the gibberish/
    noise candidates a curation pipeline drops or down-weights).

    Deliberately log-free: corpus term counts, hapax counts, and the
    sum/min of per-occurrence frequencies are integers, and the one ratio
    is a single int/int division — so the result is bit-identical across
    engines (a logprob formulation drifts in the last ulp because libm
    ``ln`` differs between engines).

    Plan: explode -> one grouped count for the unigram table -> join back
    on term (vocab side broadcasts under the threshold at fixture scale;
    at 100 TB the join degrades gracefully to shuffle) -> per-doc agg.
    """
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    unigram = tok.groupBy("term").agg(F.count(F.lit(1)).alias("term_tf"))
    return (
        tok.join(unigram, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.min("term_tf").alias("min_term_tf"),
            F.sum(F.when(F.col("term_tf") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            (F.sum("term_tf") / F.count(F.lit(1))).alias("avg_term_tf"),
        )
    )


DOC_RARITY_SCORES_SQL = f"""WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), unigram AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS term_tf FROM tok GROUP BY term
)
SELECT tok.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  MIN(unigram.term_tf) AS min_term_tf,
  CAST(SUM(CASE WHEN unigram.term_tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
  SUM(unigram.term_tf) * 1.0 / COUNT(*) AS avg_term_tf
FROM tok JOIN unigram ON tok.term = unigram.term
GROUP BY tok.doc_id"""


# --- PII redaction -----------------------------------------------------------


def pii_redaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII scrub report over a corpus with PLANTED synthetic PII
    (the fixture text is clean words, so the query deterministically embeds
    an email + phone per doc and an IP in every third doc — exercising
    detection counts and proving the redaction chain leaves zero residual
    matches). All regexp column expressions, no UDF
    (functions/redact.py)."""
    from ..functions import redact as R

    d = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"), sid, F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" at 10."), (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    per_doc = d.select(
        "source",
        R.pii_count(planted, "email").alias("n_email"),
        R.pii_count(planted, "phone").alias("n_phone"),
        R.pii_count(planted, "ipv4").alias("n_ip"),
        R.pii_total(R.redact_pii(planted)).alias("n_residual"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("n_emails"),
        F.sum("n_phone").cast("bigint").alias("n_phones"),
        F.sum("n_ip").cast("bigint").alias("n_ips"),
        F.sum("n_residual").cast("bigint").alias("n_residual"),
    )


def _pii_sql() -> str:
    from ..functions import redact as R

    planted = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-'"
        " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
        " || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')"
        " || CASE WHEN doc_id % 3 = 0 THEN ' at 10.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END"
    )
    residual = " + ".join(
        R.dd_pii_count(f"({R.dd_redact_pii('planted')})", k) for k in R.PII_PATTERNS
    )
    return f"""WITH p AS (SELECT source, {planted} AS planted FROM documents)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM({R.dd_pii_count('planted', 'email')}) AS BIGINT) AS n_emails,
  CAST(SUM({R.dd_pii_count('planted', 'phone')}) AS BIGINT) AS n_phones,
  CAST(SUM({R.dd_pii_count('planted', 'ipv4')}) AS BIGINT) AS n_ips,
  CAST(SUM({residual}) AS BIGINT) AS n_residual
FROM p GROUP BY source"""


PII_REDACTION_REPORT_SQL = _pii_sql()


# --- benchmark decontamination ----------------------------------------------

#: Benchmark corpus = these sources; everything else is training data.
DECONTAM_EVAL_SOURCES = ("src0", "src1")
#: 13-gram overlap is the published decontamination rule; the fixture docs
#: (10-99 tokens) do contain cross-doc 13-gram repeats, so the query is
#: exercised at sf0.01.
DECONTAM_N = 13


def _decontam_split(spark, sf_dir):
    d = _docs(spark, sf_dir)
    is_eval = F.col("source").isin(*DECONTAM_EVAL_SOURCES)
    return d.filter(~is_eval), d.filter(is_eval)


def benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated training docs: share >=1 13-gram with the benchmark
    sources (operators/decontam.ngram_contamination — hashed-shingle
    equi-join, never all-pairs)."""
    train, ev = _decontam_split(spark, sf_dir)
    return decontam.ngram_contamination(train, ev, n=DECONTAM_N)


_EVAL_IN = "(" + ", ".join(f"'{s}'" for s in DECONTAM_EVAL_SOURCES) + ")"

BENCHMARK_DECONTAM_SQL = f"""WITH sh0 AS (
  SELECT doc_id, source, unnest({T.dd_shingles(_TOKS, DECONTAM_N)}) AS s
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source, s FROM sh0
), tr AS (
  SELECT doc_id, s FROM sh WHERE source NOT IN {_EVAL_IN}
), ev AS (
  SELECT doc_id AS eval_doc, s FROM sh WHERE source IN {_EVAL_IN}
)
SELECT tr.doc_id,
  CAST(COUNT(DISTINCT tr.s) AS BIGINT) AS n_shared_ngrams,
  CAST(COUNT(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs
FROM tr JOIN ev ON tr.s = ev.s
GROUP BY tr.doc_id"""


def doc_contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc contamination flag via the JOIN path: every doc
    left-joined against the shingle-keyed hit counts. This is the batch
    plan at scale — the stateless array-intersect variant
    (decontam.flag_contaminated, the streaming path) pays O(|eval
    shingles|) per row because array_intersect rebuilds the probe set per
    evaluation (measured 20.9s vs 1.9s at sf0.1 with a 30k-shingle eval
    side), so it is reserved for streams over modest eval sets
    (tests/test_streaming.py proves the two paths agree)."""
    train, ev = _decontam_split(spark, sf_dir)
    hits = decontam.ngram_contamination(train, ev, n=DECONTAM_N).select(
        "doc_id", "n_shared_ngrams"
    )
    return train.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shared_ngrams"), F.lit(0)).alias("n_shared_ngrams"),
        (F.coalesce(F.col("n_shared_ngrams"), F.lit(0)) > 0)
        .cast("int")
        .alias("is_contaminated"),
    )


DOC_CONTAMINATION_FLAGS_SQL = f"""WITH sh0 AS (
  SELECT doc_id, source, unnest({T.dd_shingles(_TOKS, DECONTAM_N)}) AS s
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source, s FROM sh0
), ev AS (
  SELECT DISTINCT s FROM sh WHERE source IN {_EVAL_IN}
), hits AS (
  SELECT tr.doc_id, CAST(COUNT(DISTINCT tr.s) AS BIGINT) AS n
  FROM (SELECT doc_id, s FROM sh WHERE source NOT IN {_EVAL_IN}) tr
  JOIN ev ON tr.s = ev.s
  GROUP BY tr.doc_id
)
SELECT d.doc_id,
  coalesce(h.n, 0) AS n_shared_ngrams,
  CAST(CASE WHEN h.n > 0 THEN 1 ELSE 0 END AS INT) AS is_contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.source NOT IN {_EVAL_IN}"""


def decontam_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs SURVIVING 13-gram decontamination (left-anti join
    against the contaminated set) — the write-the-clean-corpus step."""
    train, ev = _decontam_split(spark, sf_dir)
    return decontam.decontaminate(train, ev, n=DECONTAM_N).select(
        "doc_id", "source"
    )


DECONTAM_KEEP_SQL = f"""WITH sh0 AS (
  SELECT doc_id, source, unnest({T.dd_shingles(_TOKS, DECONTAM_N)}) AS s
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source, s FROM sh0
), contaminated AS (
  SELECT DISTINCT tr.doc_id
  FROM (SELECT doc_id, s FROM sh WHERE source NOT IN {_EVAL_IN}) tr
  JOIN (SELECT s FROM sh WHERE source IN {_EVAL_IN}) ev ON tr.s = ev.s
)
SELECT doc_id, source FROM documents
WHERE source NOT IN {_EVAL_IN}
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)"""


# --- corpus shard packing ----------------------------------------------------

#: Token budget per training shard (calibrated so sf0.01's ~55-token docs
#: yield several shards per language).
SHARD_TOKEN_BUDGET = 2000


def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: docs packed into fixed-token-budget shards
    per language (operators/packing.shard_manifest — start-offset packing,
    one window sort, no UDF)."""
    from ..operators import packing

    d = _docs(spark, sf_dir)
    return packing.shard_manifest(
        d,
        tokens=T.bpe_token_count(F.col("text")),
        order_col="doc_id",
        budget=SHARD_TOKEN_BUDGET,
        group_cols=("lang",),
    )


CORPUS_SHARD_PLAN_SQL = f"""WITH counted AS (
  SELECT lang, doc_id,
    CAST(len(regexp_extract_all(text, '{T.TOKEN_PATTERN}')) AS BIGINT) AS n_tokens
  FROM documents
), assigned AS (
  SELECT lang, doc_id, n_tokens,
    CAST(floor(coalesce(SUM(n_tokens) OVER (
      PARTITION BY lang ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      / {SHARD_TOKEN_BUDGET}) AS BIGINT) AS shard_id
  FROM counted
)
SELECT lang, shard_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
  MIN(doc_id) AS first_doc,
  MAX(doc_id) AS last_doc
FROM assigned GROUP BY lang, shard_id"""


# --- CCNet-style LM perplexity scoring --------------------------------------


def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy/perplexity under the corpus's own add-one
    bigram model (operators/lm.py) — the perplexity-filter signal of web
    curation pipelines, bootstrapped without an external model. Rounded to
    6 decimals on both engines (libm vs JVM log ulp drift)."""
    return lm.doc_lm_scores(_docs(spark, sf_dir))


DOC_LM_PERPLEXITY_SQL = f"""WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), pairs AS (
  SELECT doc_id, bg['prev'] AS prev, bg['cur'] AS cur
  FROM (
    SELECT doc_id,
           unnest([{{'prev': t[i], 'cur': t[i+1]}} for i in range(1, len(t))]) AS bg
    FROM toks WHERE len(t) >= 2
  )
), ucnt AS (
  SELECT w, COUNT(*) AS cp
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
), v AS (
  SELECT COUNT(*) AS v FROM ucnt
), big AS (
  SELECT prev, cur, COUNT(*) AS cb FROM pairs GROUP BY 1, 2
), scored AS (
  SELECT p.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         ROUND(-avg(ln(b.cb + 1.0) - ln(u.cp + v.v)), 6) AS cross_entropy
  FROM pairs p
  JOIN big b USING (prev, cur)
  JOIN ucnt u ON p.prev = u.w
  CROSS JOIN v
  GROUP BY p.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       s.cross_entropy,
       ROUND(exp(s.cross_entropy), 6) AS perplexity
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id"""


#: Misra-Gries counter budget for the heavy-hitter queries.
#:
#: CEILING (r9 advisory): the targeted exact pass rebuilds the collected
#: sketch as a map-side codegen IN-list (`F.col("tok").isin(...)`) — a
#: literal whose compiled size grows with k. Spark's `isin` stays inside
#: whole-stage codegen comfortably to ~low thousands of literals (the
#: OptimizeIn rule rewrites to an O(1) hash set at
#: spark.sql.optimizer.inSetConversionThreshold=10 elements, so lookup
#: cost is flat; the ceiling is expression-tree/codegen size, not probe
#: cost). Keep MG_K <= ~1,000; past that, switch the survivor filter to
#: a broadcast left-semi join against the <=k-row literal frame — same
#: semantics, no literal blowup.
MG_K = 32


def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CERTIFIED frequent tokens via the mergeable Misra-Gries sketch
    (operators/heavyhitters.py): per-partition k-counter summaries, one
    sketch-sized shuffle — the 100 TB path when the token domain is too
    wide even for a combined groupBy.

    Output = the certified heavy-hitter set: tokens whose exact count
    exceeds n/(k+1), the regime where Misra-Gries GUARANTEES presence in
    the sketch. The certified rows INNER-join the sketch's survivor set,
    so if the guarantee ever broke, a row would drop and the row-count /
    hash compare against the exact-SQL oracle would fail — the oracle
    check is therefore a live test of the sketch, not a bypass of it.
    (est_count itself is partitioning-defined and stays out of the
    output; the estimate-bound properties are pytest-asserted in
    tests/test_heavyhitters.py.)

    TARGETED EXACT SECOND PASS (r9, taken once the documents plan
    estimate reaches ``partitioning.LARGE_INPUT_BYTES``): below the gate,
    one lazy plan computes the exact counts as a full-domain groupBy —
    fine when the domain is small, and it keeps the verified
    sf0.01/sf0.1 plan byte-for-byte. Above it, the full-domain shuffle IS
    the cost (sf100's marker-injected corpus has ~48M distinct tokens for
    270M occurrences; r8 measured 92.0s): instead, run the sketch job
    first, collect its <=k survivor rows (bounded by construction — the
    merge keeps at most k counters), and make the exact pass
    ``filter(tok IN survivors) -> groupBy`` — tokens are discarded
    MAP-SIDE by a codegen IN-list, so the shuffle carries at most
    k * n_partitions partial rows instead of the domain. Every truly
    heavy token is in the survivor set (the MG guarantee), so the
    certified output — and the oracle hash — is unchanged; the join
    against the collected sketch (rebuilt as a literal frame, not
    recomputed) still drops any row the sketch missed."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    # sketch over RAW TEXT (r11): tokenization happens inside the Arrow
    # partials, so the JVM->Python boundary carries one cell per doc, not
    # one per token — sf100: ~2s vs 10-44s for the exploded transfer (and
    # no repartition of the exploded stream). The exact pass below keeps
    # the JVM-side tokens(); the two tokenizers are parity-pinned.
    sketch = heavyhitters.mg_heavy_hitters_text(docs, "text", k=MG_K)
    if is_large(docs):
        rows = sketch.collect()  # <= MG_K rows by construction
        if not rows:
            return spark.createDataFrame(
                [], "item string, exact_count bigint, n_total bigint"
            )
        sketch = spark.createDataFrame(
            [(r.item, r.n_total) for r in rows], "item string, n_total long"
        )
        survivors = F.col("tok").isin([r.item for r in rows])
        exact = (
            toks.filter(survivors)
            .groupBy(F.col("tok").alias("item"))
            .agg(F.count(F.lit(1)).alias("exact_count"))
        )
    else:
        exact = toks.groupBy(F.col("tok").alias("item")).agg(
            F.count(F.lit(1)).alias("exact_count")
        )
    certified = sketch.join(exact, "item").filter(
        F.col("exact_count") * (MG_K + 1) > F.col("n_total")
    )
    return certified.select("item", "exact_count", "n_total")


TOKEN_HEAVY_HITTERS_SQL = f"""WITH toks AS (
  SELECT unnest({_TOKS}) AS item FROM documents
), cnt AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS exact_count FROM toks GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM toks
)
SELECT item, exact_count, n_total
FROM cnt CROSS JOIN tot
WHERE exact_count * {MG_K + 1} > n_total"""


QUERIES = {
    "doc_lm_perplexity": _q(
        doc_lm_perplexity, DOC_LM_PERPLEXITY_SQL, sample_col="doc_id"
    ),
    "token_heavy_hitters": _q(token_heavy_hitters, TOKEN_HEAVY_HITTERS_SQL),
    "doc_text_stats": _q(doc_text_stats, DOC_TEXT_STATS_SQL, sample_col="doc_id"),
    "corpus_shard_plan": _q(corpus_shard_plan, CORPUS_SHARD_PLAN_SQL),
    "doc_quality_filter": _q(
        doc_quality_filter, DOC_QUALITY_FILTER_SQL, sample_col="doc_id"
    ),
    "gopher_filter_summary": _q(gopher_filter_summary, GOPHER_FILTER_SUMMARY_SQL),
    "doc_rarity_scores": _q(
        doc_rarity_scores, DOC_RARITY_SCORES_SQL, sample_col="doc_id"
    ),
    "pii_redaction_report": _q(pii_redaction_report, PII_REDACTION_REPORT_SQL),
    "benchmark_decontam": _q(benchmark_decontam, BENCHMARK_DECONTAM_SQL),
    "doc_contamination_flags": _q(
        doc_contamination_flags, DOC_CONTAMINATION_FLAGS_SQL,
        sample_col="doc_id",
    ),
    "decontam_keep": _q(decontam_keep, DECONTAM_KEEP_SQL, sample_col="doc_id"),
    "doc_top_terms": _q(doc_top_terms, DOC_TOP_TERMS_SQL),
    "docs_stratified_sample": _q(docs_stratified_sample, DOCS_STRATIFIED_SAMPLE_SQL),
    "corpus_weighted_sample": _q(
        corpus_weighted_sample, CORPUS_WEIGHTED_SAMPLE_SQL
    ),
    "docs_split_assignment": _q(
        docs_split_assignment, DOCS_SPLIT_ASSIGNMENT_SQL
    ),
    "corpus_mixture_plan": _q(corpus_mixture_plan, CORPUS_MIXTURE_PLAN_SQL),
    "source_quality_report": _q(source_quality_report, SOURCE_QUALITY_REPORT_SQL),
    "doc_token_counts": _q(
        doc_token_counts, DOC_TOKEN_COUNTS_SQL, sample_col="doc_id"
    ),
    "doc_lang_id": _q(doc_lang_id, DOC_LANG_ID_SQL, sample_col="doc_id"),
    "doc_fingerprints": _q(
        doc_fingerprints, DOC_FINGERPRINTS_SQL, sample_col="doc_id"
    ),
    "dedup_exact_summary": _q(dedup_exact_summary, DEDUP_EXACT_SUMMARY_SQL),
    "dedup_exact_keep": _q(
        dedup_exact_keep, DEDUP_EXACT_KEEP_SQL, sample_col="doc_id"
    ),
    "dedup_ngram_jaccard": _q(
        dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL, sample_col="doc_a"
    ),
    "dedup_fuzzy_keep": _q(dedup_fuzzy_keep, DEDUP_FUZZY_KEEP_SQL),
    "dedup_clusters": _q(dedup_clusters, DEDUP_CLUSTERS_SQL),
    "dedup_cross_corpus": _q(
        dedup_cross_corpus, DEDUP_CROSS_CORPUS_SQL, sample_col="new_doc"
    ),
    "span_dedup_docs": _q(
        span_dedup_docs, SPAN_DEDUP_DOCS_SQL, sample_col="doc_id"
    ),
    "span_dedup_stats": _q(span_dedup_stats, SPAN_DEDUP_STATS_SQL),
    "doc_chunks": _q(doc_chunks, _doc_chunks_sql(), sample_col="doc_id"),
    "dsir_importance_weights": _q(
        dsir_importance_weights, DSIR_IMPORTANCE_WEIGHTS_SQL,
        sample_col="doc_id",
    ),
    "dsir_selected_docs": _q(dsir_selected_docs, DSIR_SELECTED_DOCS_SQL),
    "bpe_vocab": _q(bpe_vocab, None),
    "bpe_token_counts": _q(bpe_token_counts, None),
    "dedup_minhash": _q(dedup_minhash, _dd_minhash_sql(), sample_col="doc_a"),
    "dedup_minhash_guarded": _q(
        dedup_minhash_guarded,
        _dd_minhash_sql(max_docs_per_band_key=50),
        sample_col="doc_a",
    ),
    "dedup_simhash": _q(dedup_simhash, _dd_simhash_sql(), sample_col="doc_a"),
    # 100 TB-contract variants of the linear-output dedup deliverables
    # (r10 verdict item 1): guarded-MinHash candidates, unchanged pair
    # resolution. No sample_col on keep/clusters: their twins' cost is
    # pair-stage-side, where an output-id sample can't prune (the 054d7c2
    # ANN precedent); the cross pair list samples on the new-batch id.
    "dedup_fuzzy_keep_minhash": _q(
        dedup_fuzzy_keep_minhash, _dd_fuzzy_keep_minhash_sql()
    ),
    "dedup_clusters_minhash": _q(
        dedup_clusters_minhash, _dd_clusters_minhash_sql()
    ),
    "dedup_cross_corpus_minhash": _q(
        dedup_cross_corpus_minhash,
        _dd_minhash_cross_sql(),
        sample_col="new_doc",
    ),
    "events_json_props": _q(events_json_props, EVENTS_JSON_PROPS_SQL),
}
