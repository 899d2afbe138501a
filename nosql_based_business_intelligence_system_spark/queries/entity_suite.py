"""Entity-resolution suite over the ``part`` dimension.

The fixture's part names are adjective+noun labels with near-identical
spellings ("cold anvil" / "old anvil"), a faithful miniature of the
free-text label columns the reference groups on (Project.py:124-140).
Both queries are fully oracle-checked: Spark's ``levenshtein`` and
DuckDB's compute the same classic edit distance, and the transitive
closure has a recursive-CTE twin (same pattern as dedup_clusters).

The operators guard their own blocking self-join: past
``dedup.PAIR_GUARD_MIN_BYTES`` of ``part`` plan estimate (sf1 and up)
the pair volume is priced before it launches; the fixtures stay below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import entity
from ..sources.tables import load_table
from .base import Query as _q

_MAX_DIST = 3


def part_name_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical part-name pairs (edit distance <= 3) from four-pass
    blocking (tokens + 4-char prefix/suffix) — never an all-pairs
    comparison."""
    part = load_table(spark, sf_dir, "part")
    return entity.fuzzy_name_pairs(
        part, "p_name", "p_partkey", max_distance=_MAX_DIST
    )


# The oracle mirrors the operator stage-for-stage: dictionary collapse,
# four blocking passes (first/last token, 4-char prefix/suffix),
# levenshtein verify.
_NAMES_CTE = """names AS (
  SELECT regexp_replace(lower(trim(p_name)), '\\s+', ' ', 'g') AS name,
         MIN(p_partkey) AS rep_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM part GROUP BY 1
)"""

_PAIRS_CTE = f"""{_NAMES_CTE}, pairs AS (
  SELECT a.name AS name_a, b.name AS name_b,
         a.rep_id AS id_a, b.rep_id AS id_b,
         a.n_rows AS rows_a, b.n_rows AS rows_b,
         CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_distance
  FROM names a JOIN names b
    ON a.name < b.name
   AND (split_part(a.name, ' ', 1) = split_part(b.name, ' ', 1)
     OR list_extract(string_split(a.name, ' '), -1)
        = list_extract(string_split(b.name, ' '), -1)
     OR left(a.name, 4) = left(b.name, 4)
     OR right(a.name, 4) = right(b.name, 4))
  WHERE levenshtein(a.name, b.name) <= {_MAX_DIST}
)"""

PART_NAME_NEAR_PAIRS_SQL = f"""WITH {_PAIRS_CTE}
SELECT name_a, name_b, id_a, id_b, rows_a, rows_b, edit_distance
FROM pairs"""


def part_name_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolved entities: every distinct spelling labeled with its cluster
    and the cluster's canonical (most-frequent) spelling."""
    part = load_table(spark, sf_dir, "part")
    return entity.resolve_entities(
        part, "p_name", "p_partkey", max_distance=_MAX_DIST
    )


PART_NAME_ENTITIES_SQL = f"""WITH RECURSIVE {_PAIRS_CTE}, edges AS (
  SELECT name_a AS u, name_b AS v FROM pairs
  UNION SELECT name_b, name_a FROM pairs
), reach(node, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.node
), comp AS (
  SELECT node, MIN(comp) AS comp FROM reach GROUP BY node
), labeled AS (
  SELECT n.name, n.rep_id, n.n_rows,
         COALESCE(c.comp, n.name) AS cluster_id
  FROM names n LEFT JOIN comp c ON n.name = c.node
), canon AS (
  SELECT cluster_id, name AS canonical_name,
         ROW_NUMBER() OVER (
           PARTITION BY cluster_id ORDER BY n_rows DESC, name ASC
         ) AS rn
  FROM labeled
)
SELECT l.name, l.rep_id, l.n_rows, l.cluster_id, c.canonical_name
FROM labeled l JOIN canon c ON l.cluster_id = c.cluster_id AND c.rn = 1"""


QUERIES = {
    "part_name_near_pairs": _q(part_name_near_pairs, PART_NAME_NEAR_PAIRS_SQL),
    "part_name_entities": _q(part_name_entities, PART_NAME_ENTITIES_SQL),
}
