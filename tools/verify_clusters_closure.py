"""sf10-scale oracle for ``dedup_clusters`` (closure done outside SQL).

The registry oracle's transitive closure is a standard recursive CTE that
accumulates every (node, reachable-comp) pair — quadratic in cluster
size. It is exact and fine at the driver's sf0.01 gate and through the
sf1 campaign, but at sf10 the reach relation spills past this box's
~94GB scratch (DuckDB 1.0 has no ``USING KEY`` recursion to keep only
the min label per node). This tool cross-checks the same query at big
scale with a DIFFERENT exact algorithm:

1. DuckDB computes the dupes EDGE LIST with the registry oracle's own
   ``sh``/``common``/``dupes`` CTEs (textually reused, so the candidate
   semantics can't drift);
2. Python union-find resolves the closure (min-id component labels,
   identical by construction to both the Spark pointer-jumping path and
   the SQL reach closure);
3. the (cluster_id, n_members) rows hash through verify_local's
   ``table_digest`` and compare against a ``--spark-only`` recording.

Usage:
    python tools/verify_local.py --spark-only=/tmp/c.json SF_DIR dedup_clusters
    python tools/verify_clusters_closure.py SF_DIR /tmp/c.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from tools.verify_local import table_digest


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rec_path = sys.argv[2] if len(sys.argv) > 2 else None

    from nosql_based_business_intelligence_system_spark.queries.text_suite import (
        DEDUP_CLUSTER_PAIR_CTES,
    )
    from nosql_based_business_intelligence_system_spark.session import (
        physical_ram_bytes,
        ram_share_gib,
    )

    # Compose from the SAME named CTE-prefix constant the registry oracle
    # uses (text_suite.DEDUP_CLUSTER_PAIR_CTES), so candidate semantics
    # cannot drift; only the closure step differs (union-find below vs the
    # oracle's recursive CTE).
    edge_sql = f"WITH {DEDUP_CLUSTER_PAIR_CTES} SELECT doc_a, doc_b FROM dupes"

    con = duckdb.connect()
    # JVM-free (the Spark side is a recording): DuckDB may take half the
    # box's physical RAM before it spills
    try:
        con.execute(
            "SET memory_limit='"
            + os.environ.get(
                "SPARK_GRAFT_DUCKDB_MEM",
                f"{ram_share_gib(physical_ram_bytes(), 0.5)}GB",
            )
            + "'"
        )
        con.execute("SET temp_directory='/tmp/duckdb_spill'")
    except Exception:
        pass
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    t0 = time.time()
    edges = con.execute(edge_sql).fetchall()
    print(f"[closure] {len(edges)} dupe edges [{time.time()-t0:.1f}s]", flush=True)

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
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
    sizes: dict = {}
    for node in parent:
        c = comp_min[find(node)]
        sizes[c] = sizes.get(c, 0) + 1
    rows = list(sizes.items())
    on, oh = table_digest(rows, ["cluster_id", "n_members"])
    print(f"[closure] {on} clusters h={oh} [{time.time()-t0:.1f}s]", flush=True)

    if rec_path:
        rec = json.load(open(rec_path))["dedup_clusters"]
        ok = (
            rec["rows"] == on
            and sorted(rec["cols"]) == ["cluster_id", "n_members"]
            and rec["hash"] == oh
        )
        print(
            ("OK   " if ok else "FAIL ")
            + f" dedup_clusters: spark {rec['rows']} rows h={rec['hash']}"
            f" | duckdb+uf {on} rows h={oh}"
        )
        return 0 if ok else 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
