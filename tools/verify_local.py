"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry at a given sf_dir on Spark and, where an
``oracle_sql()`` entry exists, the same SQL on DuckDB over the same Parquet —
then compares row count, column names, and an order-insensitive value hash
(floats at full precision; ``--sig6`` for the loose diagnostic mode).
Queries without an oracle get a rows-only report.

Usage: python tools/verify_local.py [--sig6] [--determinism] [--sample=N]
           [--spark-only=F | --oracle-only=F] [sf_dir] [query ...]

``--sample=N`` runs the SAMPLED big-scale twin (see ``_sampled``): both
engines keep only output rows whose md5(sample_col) starts with N zero hex
chars, making quadratic twins affordable at sf100. Only queries that
declare ``Query.sample_col`` participate; the rest are skipped.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SF = "/root/testdata/sf0.01"

# Floats hash at FULL precision (repr) by default, matching the driver's
# strictness — round-1 shipped FLOAT_SIG=6 rounding, which hid exactly the
# class of bug the gate exists to catch (last-ulp summation-order drift that
# the driver flagged on summary_stats / segment_value_summary /
# monthly_revenue_running). Pass --sig6 to get the old loose mode as a
# diagnostic ("is this a precision-only mismatch or a real one?").
FLOAT_SIG = None  # None -> full precision; int -> significant digits


def _norm_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NaN"
        if v == 0:
            return "0"
        if FLOAT_SIG is not None:
            return f"{v:.{FLOAT_SIG}e}"
        return repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    return str(v)


def table_digest(rows, colnames) -> tuple[int, str]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()[:16]


def _sampled(q, n: int):
    """Wrap a Query's two sides with the deterministic md5-bucket sample:
    keep only output rows whose md5(CAST(sample_col AS VARCHAR)) starts
    with ``n`` zero hex chars (a 16^-n fraction). Returns None when the
    query declares no ``sample_col``.

    Soundness: both engines compute the SAME filter over the SAME full
    output, so sampled-output equality is implied by full-output equality
    — a strictly weaker but still cross-engine check. The point is
    affordability: for pair/top-k twins the id filter pushes down one
    side of the quadratic join in DuckDB (the output id is a passthrough
    of a base-table/materialized-CTE column), cutting the candidate
    explosion by the sample factor, which is what makes a third-decade
    (sf100) twin of e.g. the banded-MinHash pair list runnable at all
    (PLANS.md: full shingle twins cost ~18 min already at sf10)."""
    import dataclasses

    if q.sample_col is None:
        return None
    zeros = "0" * n
    c = q.sample_col

    def sampled_fn(spark, sf_dir, _fn=q.fn, _c=c, _z=zeros, _n=n):
        from pyspark.sql import functions as F

        df = _fn(spark, sf_dir)
        # md5 over the UTF-8 bytes of the id's decimal/string form —
        # byte-identical to DuckDB's md5(CAST(c AS VARCHAR)).
        return df.filter(
            F.substring(
                F.md5(F.encode(F.col(_c).cast("string"), "UTF-8")), 1, _n
            )
            == _z
        )

    oracle = q.oracle and (
        f"SELECT * FROM ({q.oracle}) WHERE"
        f" substr(md5(CAST({c} AS VARCHAR)), 1, {n}) = '{zeros}'"
    )
    return dataclasses.replace(q, fn=sampled_fn, oracle=oracle)


def _write_json_atomic(path: str, obj) -> None:
    """tmp+rename so a kill mid-write can't leave a truncated recording."""
    import json

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def main() -> int:
    global FLOAT_SIG
    if "--sig6" in sys.argv[1:]:
        FLOAT_SIG = 6
    # Split mode for twins too big to share one box with a live JVM
    # (the sf10 shingle self-join spills >24GB while Spark scratch holds
    # the rest of the disk): --spark-only=F runs just the Spark side and
    # records (rows, hash, cols) to F; --oracle-only=F runs just DuckDB
    # in a JVM-free process (whole-box memory, whole-disk spill) and
    # compares against F.
    spark_only = oracle_only = None
    sample_n = None
    flag_args = []
    for a in sys.argv[1:]:
        if a.startswith("--spark-only="):
            spark_only = a.split("=", 1)[1]
            flag_args.append(a)
        elif a.startswith("--oracle-only="):
            oracle_only = a.split("=", 1)[1]
            flag_args.append(a)
        elif a.startswith("--sample="):
            sample_n = int(a.split("=", 1)[1])
            # n < 1 would run UNSAMPLED while stamping {"sample": 0} into
            # recordings — a later plain compare (sample=None) would then
            # spuriously FAIL on 0 != None even though both runs were full
            if sample_n < 1:
                print(f"--sample={sample_n} invalid: need n >= 1")
                return 2
            flag_args.append(a)
    if sample_n:
        print(
            f"SAMPLED mode: md5-prefix {'0' * sample_n} (16^-{sample_n} of"
            " output rows) on each query's declared sample_col; queries"
            " without one are skipped"
        )
    args = [
        a
        for a in sys.argv[1:]
        if a not in ("--determinism", "--sig6") and a not in flag_args
    ]
    determinism = "--determinism" in sys.argv[1:]
    sf_dir = args[0] if args else DEFAULT_SF
    only = set(args[1:])

    import json

    from nosql_based_business_intelligence_system_spark.queries import QUERIES

    if oracle_only:
        with open(oracle_only) as f:
            recorded = json.load(f)
        spark = None
    else:
        from nosql_based_business_intelligence_system_spark.session import get_spark

        spark = get_spark(app_name="verify-local")
    con = duckdb.connect()
    # DuckDB's default memory ceiling (80% of RAM) ignores the Spark JVM
    # sharing the box; a heavy twin then OOM-kills the whole process
    # (observed at sf10: 99.9 GB RSS). Cap it at a quarter of physical RAM
    # (the JVM heap defaults to half) and let it SPILL instead. The
    # quadratic-twin queries (sf10 shingle self-join: ~2.7e9 candidate
    # pairs) need the opposite trade when run SOLO — more RAM, no spill —
    # so the cap is an env knob.
    from nosql_based_business_intelligence_system_spark.session import (
        physical_ram_bytes,
        ram_share_gib,
    )

    try:
        con.execute(
            "SET memory_limit='"
            + os.environ.get(
                "SPARK_GRAFT_DUCKDB_MEM",
                f"{ram_share_gib(physical_ram_bytes(), 0.25)}GB",
            )
            + "'"
        )
        con.execute(
            "SET temp_directory='"
            + os.environ.get("SPARK_GRAFT_DUCKDB_SPILL", "/tmp/duckdb_spill")
            + "'"
        )
    except Exception:
        pass  # older duckdb without these pragmas
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    if oracle_only:
        # A query with an oracle but NO recording means the --spark-only
        # pass never completed it (crash, typo, partial run). Silently
        # skipping those made a green oracle-only exit meaningless — the
        # gate could pass with arbitrary unverified coverage — so missing
        # recordings are hard FAILURES, and rows-only skips are printed.
        failures = []
        rows_only_skipped = []
        unknown = sorted(only - set(QUERIES))
        for name in unknown:
            print(f"FAIL  {name}: not in the query registry")
            failures.append(name)
        for name, q in QUERIES.items():
            if only and name not in only:
                continue
            if sample_n:
                sq = _sampled(q, sample_n)
                if sq is None:
                    print(f"skip  {name}: --sample set but no sample_col")
                    continue
                q = sq
            rec = recorded.get(name)
            if q.oracle is None:
                rows_only_skipped.append(name)
                continue
            if rec is None:
                print(f"FAIL  {name}: oracle-bearing query has no recording")
                failures.append(name)
                continue
            if rec.get("sample") != sample_n:
                # a full recording must never green a sampled compare (or
                # vice versa) — the two hash different row sets
                print(
                    f"FAIL  {name}: recording sample={rec.get('sample')}"
                    f" does not match --sample={sample_n}"
                )
                failures.append(name)
                continue
            t0 = time.time()
            try:
                if rec.get("hash") is None:
                    # BIG recording: the Spark collect tripped
                    # maxResultSize, so the spark-only pass recorded
                    # rows+cols only. Compare the COUNT here (the value
                    # hash binds at every sf whose output fits).
                    cur = con.execute(f"SELECT COUNT(*) FROM ({q.oracle})")
                    on = int(cur.fetchone()[0])
                    ok = rec["rows"] == on
                    status = "BIG  " if ok else "FAIL "
                    print(
                        f"{status} {name}: spark {rec['rows']} rows | duckdb"
                        f" {on} rows (value hash skipped: spark collect"
                        f" exceeded maxResultSize) [{time.time()-t0:.1f}s]"
                    )
                    if not ok:
                        failures.append(name)
                    continue
                cur = con.execute(q.oracle)
                ocols = [d[0] for d in cur.description]
                on, oh = table_digest(cur.fetchall(), ocols)
            except Exception:
                print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
                failures.append(name)
                continue
            ok = (
                rec["rows"] == on
                and sorted(rec["cols"]) == sorted(ocols)
                and rec["hash"] == oh
            )
            status = "OK   " if ok else "FAIL "
            print(
                f"{status} {name}: spark {rec['rows']} rows h={rec['hash']}"
                f" | duckdb {on} rows h={oh} [{time.time()-t0:.1f}s]"
            )
            if not ok:
                failures.append(name)
        if rows_only_skipped:
            print(
                f"\nskipped {len(rows_only_skipped)} rows-only (no oracle):"
                f" {rows_only_skipped}"
            )
        print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
        return 1 if failures else 0

    failures = []
    spark_results: dict = {}
    import gc

    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        if sample_n:
            sq = _sampled(q, sample_n)
            if sq is None:
                print(f"skip  {name}: --sample set but no sample_col")
                continue
            q = sq
        # Long full-registry sessions (sf10: 2h+) accumulate the
        # localCheckpoint blocks of every checkpointing query until the
        # Python DataFrame refs are collected — observed 41 GB of
        # block-manager spill and a transient disk-full that failed two
        # queries (and again at r8: three dedup self-joins hit ENOSPC
        # when their shuffle scratch landed on top of 100 queries'
        # lingering blocks). gc.collect alone drops the py4j refs but the
        # ContextCleaner frees blocks via WEAK references the JVM only
        # notices on a JVM GC — under a barely-pressured 48g heap that
        # can be never. free_blocks = gc.collect + System.gc (the same
        # between-passes hygiene bench.py uses).
        from nosql_based_business_intelligence_system_spark.caching import (
            free_blocks,
        )

        free_blocks(spark)
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            try:
                srows = sdf.collect()
            except Exception as e:
                # Driver-hash ceiling (NOT silent — reported as BIG):
                # fact-grain outputs (line_metrics is 60M rows at sf10)
                # trip spark.driver.maxResultSize long before a driver-
                # side hash would finish. Downgrade THAT case only to a
                # row-count + schema compare on both engines and say so;
                # the value hash for such queries is still enforced at
                # every sf whose output fits (sf1 covers 6M rows). Any
                # other Spark error still FAILs.
                if "maxResultSize" not in str(e):
                    raise
                scols = sdf.columns
                sn_probe = sdf.count()
                if spark_only:
                    # Keep the BIG case inside the split-mode contract:
                    # record rows+cols with hash=None and let the
                    # JVM-free --oracle-only pass run the COUNT twin
                    # (previously this executed DuckDB inline here and
                    # never recorded, so oracle-only silently omitted it).
                    spark_results[name] = {
                        "rows": sn_probe,
                        "hash": None,
                        "cols": scols,
                        "sample": sample_n,
                    }
                    _write_json_atomic(spark_only, spark_results)
                    print(
                        f"spark {name}: {sn_probe} rows h=BIG (collect"
                        f" exceeded maxResultSize; count recorded)"
                        f" [{time.time()-t0:.1f}s]"
                    )
                    del sdf
                    gc.collect()
                    try:
                        spark.sparkContext._jvm.System.gc()
                    except Exception:
                        pass
                    continue
                if q.oracle is None:
                    print(
                        f"rows  {name}: {sn_probe} rows (no oracle; value"
                        f" collect exceeded maxResultSize)"
                        f" [{time.time()-t0:.1f}s]"
                    )
                    continue
                try:
                    cur = con.execute(f"SELECT COUNT(*) FROM ({q.oracle})")
                    on = int(cur.fetchone()[0])
                except Exception:
                    print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
                    failures.append(name)
                    continue
                ok = sn_probe == on
                status = "BIG  " if ok else "FAIL "
                print(
                    f"{status} {name}: spark {sn_probe} rows | duckdb {on}"
                    f" rows (value hash skipped: collect exceeded"
                    f" maxResultSize) [{time.time()-t0:.1f}s]"
                )
                if not ok:
                    failures.append(name)
                continue
            scols = sdf.columns
            sn, sh = table_digest([tuple(r) for r in srows], scols)
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        if spark_only:
            spark_results[name] = {
                "rows": sn,
                "hash": sh,
                "cols": scols,
                "sample": sample_n,
            }
            # persist incrementally so a crash keeps completed entries
            _write_json_atomic(spark_only, spark_results)
            print(f"spark {name}: {sn} rows h={sh} [{time.time()-t0:.1f}s]")
            del sdf, srows
            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            continue
        if determinism:
            # rerun the Spark side and demand exactly what the driver
            # compares: the VALUE hash for oracle-checked queries, the row
            # COUNT for rows-only ones (the driver records only spark_rows
            # there, and some rows-only ops — datasketches KLL compaction —
            # are internally randomized by design).
            sdf2 = q.fn(spark, sf_dir)
            sn2, sh2 = table_digest([tuple(r) for r in sdf2.collect()], sdf2.columns)
            if q.oracle is not None and sh2 != sh:
                print(f"FAIL  {name}: NONDETERMINISTIC spark h={sh} then h={sh2}")
                failures.append(name)
                continue
            if q.oracle is None and sn2 != sn:
                print(f"FAIL  {name}: NONDETERMINISTIC rows {sn} then {sn2}")
                failures.append(name)
                continue
            del sdf2
        # Release the Spark-side plan BEFORE the oracle phase: the heavy
        # dedup queries persist/checkpoint tens of GB of blocks (64 GB
        # observed for the sf10 shingle self-join), and holding the
        # DataFrame ref while DuckDB spills its own join starved the
        # disk and failed the twin. Collected Python rows are kept for
        # the mismatch dump; the JVM System.gc() makes the
        # ContextCleaner's weak-ref cleanup prompt instead of waiting
        # for its 30-min periodic GC.
        del sdf
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        if q.oracle is None:
            print(f"rows  {name}: {sn} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(q.oracle)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            on, oh = table_digest(orows, ocols)
        except Exception:
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        ok = sn == on and sorted(scols) == sorted(ocols) and sh == oh
        status = "OK   " if ok else "FAIL "
        print(
            f"{status} {name}: spark {sn} rows h={sh} | duckdb {on} rows h={oh}"
            f" [{time.time()-t0:.1f}s]"
        )
        if not ok:
            failures.append(name)
            if sorted(scols) != sorted(ocols):
                print(f"      cols spark={sorted(scols)} duckdb={sorted(ocols)}")
            elif sn == on:
                # dump a few mismatching lines for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("\x01".join(_norm_cell(r[i]) for i in order_s) for r in (tuple(r) for r in srows))
                lo = sorted("\x01".join(_norm_cell(r[i]) for i in order_o) for r in orows)
                diffs = [(a, b) for a, b in zip(ls, lo) if a != b][:3]
                for a, b in diffs:
                    print(f"      spark : {a[:200]}")
                    print(f"      duckdb: {b[:200]}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
