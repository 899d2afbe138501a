"""Third-decade tail check for the minhash dedup deliverables.

The sf100 DuckDB replays of the minhash-family twins do NOT complete on
this box: the twin's signature+banding pipeline (1.5e9 shingle rows x 64
HUGEINT min-hashes, 32-band self-join) exceeds 90GB RAM + the ~67GB spill
disk — measured solo deaths are recorded in the campaign state (r10: died
sharing the disk; r11: died solo, ENOSPC at 2525s). Output-side sampling
cannot prune that pipeline (the md5 filter applies after both sides'
signatures exist), so per the r10 verdict's fallback this tool provides
the WEAKER-BUT-COMPLETING cross-check of everything downstream of the
pair list, in the same spirit as ``verify_clusters_closure.py``:

1. Spark recomputes the guarded pair list exactly as the registry
   entries do (same signature parameters, MINHASH_BAND_CAP, threshold)
   and collects the edges (bounded: the capped sf100 pair list is a few
   hundred thousand rows; hard-abort above ``EDGE_CAP``).
2. An INDEPENDENT python implementation derives
   - the keep set (all doc_ids minus distinct doc_b — the
     dedup_fuzzy_keep_minhash contract), and
   - the clusters (union-find min-label closure -> (cluster_id,
     n_members) — the dedup_clusters_minhash contract; plain-dict
     union-find, not Spark's pointer-jumping/driver path),
   with doc_ids read via DuckDB so Spark computes nothing downstream.
3. Both results hash through verify_local's ``table_digest`` and compare
   against the campaign's ``--spark-only`` full recordings.

The pair list itself stays covered by the sf0.01 full twins, the sf10
campaign greens, and the cap-binding pins — this closes the derivation
tail at the full 5M-doc scale.

Usage:
    python tools/verify_minhash_tail_sf100.py SF_DIR REC_FULL_JSON
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EDGE_CAP = 20_000_000


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100"
    rec_path = sys.argv[2] if len(sys.argv) > 2 else None

    import duckdb

    from nosql_based_business_intelligence_system_spark.operators import dedup
    from nosql_based_business_intelligence_system_spark.queries.text_suite import (
        MINHASH_BAND_CAP,
        _docs,
    )
    from nosql_based_business_intelligence_system_spark.session import get_spark
    from tools.verify_local import table_digest

    spark = get_spark(app_name="minhash-tail")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    pairs = dedup.minhash_lsh_dupes(
        _docs(spark, sf_dir),
        jaccard_threshold=0.5,
        max_docs_per_band_key=MINHASH_BAND_CAP,
    ).select("doc_a", "doc_b")
    # ONE pipeline execution (r11 advice 2: count() + collect() re-ran the
    # full sf100 signature+banding pipeline twice — the only expensive
    # stage of this tool): materialize the narrow edge frame once, then
    # count and collect read the materialized blocks. The edge frame is
    # ~MBs (pairs, two bigints) even at sf100's 281k edges; the cap check
    # still gates the collect.
    pairs = pairs.localCheckpoint(eager=True)
    n_edges = pairs.count()
    if n_edges > EDGE_CAP:
        print(f"ABORT: {n_edges} edges exceeds the {EDGE_CAP} collect cap")
        return 2
    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]  # bounded: counted above
    print(f"[tail] {len(edges)} pair edges via Spark [{time.time()-t0:.1f}s]", flush=True)

    con = duckdb.connect()
    all_ids = [
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    ]
    print(f"[tail] {len(all_ids)} doc ids via DuckDB [{time.time()-t0:.1f}s]", flush=True)

    # keep set: drop the higher id of every pair (the keep-min contract)
    dropped = {b for _a, b in edges}
    keep_rows = [(d,) for d in all_ids if d not in dropped]
    kn, kh = table_digest(keep_rows, ["doc_id"])
    print(f"[tail] keep: {kn} rows h={kh} [{time.time()-t0:.1f}s]", flush=True)

    # clusters: union-find min-label closure over the pair graph
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
        if comp_min.get(r) is None or node < comp_min[r]:
            comp_min[r] = node
    sizes: dict = {}
    for node in parent:
        c = comp_min[find(node)]
        sizes[c] = sizes.get(c, 0) + 1
    cn, ch = table_digest(list(sizes.items()), ["cluster_id", "n_members"])
    print(f"[tail] clusters: {cn} rows h={ch} [{time.time()-t0:.1f}s]", flush=True)

    if not rec_path:
        return 0
    rec = json.load(open(rec_path))
    rc = 0
    for name, (n, h) in (
        ("dedup_fuzzy_keep_minhash", (kn, kh)),
        ("dedup_clusters_minhash", (cn, ch)),
    ):
        r = rec.get(name)
        if r is None:
            print(f"skip  {name}: no recording in {rec_path}")
            continue
        ok = r["rows"] == n and r["hash"] == h
        print(
            ("OK   " if ok else "FAIL ")
            + f" {name}: spark {r['rows']} rows h={r['hash']} | tail {n} rows h={h}"
        )
        rc = rc if ok else 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
