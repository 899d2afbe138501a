"""Output checks, computed with DuckDB apart from the program under test.

Tiles (registry queries) are checked by row count, column names and an
order-insensitive digest of the collected rows at full float precision,
against the query's DuckDB twin (``Query.oracle``) run over the same
Parquet files. The digests are cached in ``digests.json`` beside the data,
keyed by the oracle SQL text and the data files' hashes;
``python3 perfbench/oracle.py --remake`` computes them, and the ETL
export's expectation below, again.

The ETL export is checked from what it wrote: DuckDB reads the JSONL
collections and the hive-partitioned Parquet back and compares row counts
and per-fiscal-month revenue with its own computation from the CSV, checks
that every fact row's event date lies inside its fiscal month, compares the
summary scalars, and checks the chart's PNG signature and size.

DuckDB runs only in the benchmark's parent process, never in the process
being measured.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import struct
import sys

#: DuckDB limits: the oracle shares the box with the Spark JVM.
DUCKDB_SETTINGS = ("SET threads=2", "SET memory_limit='1GB'")


# --------------------------------------------------------------------------
# tile digests
# --------------------------------------------------------------------------


def _norm_cell(v) -> str:
    """One cell as text: floats at full precision (repr), NULL and NaN
    spelt apart from any string, +0.0 and -0.0 alike."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NaN"
        if v == 0:
            return "0"
        return repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    return str(v)


def table_digest(rows, colnames) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a result; columns are
    taken in name order so both engines may order them differently."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()[:16]


def connect(data_dir: str | None = None):
    import duckdb

    con = duckdb.connect()
    for s in DUCKDB_SETTINGS:
        con.execute(s)
    if data_dir is not None:
        from datagen import TABLES

        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _file_sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _data_key(data_dir: str) -> str:
    from datagen import TABLES

    h = hashlib.sha256()
    for t in TABLES:
        h.update(_file_sha(os.path.join(data_dir, f"{t}.parquet")).encode())
    return h.hexdigest()[:16]


def tile_digests(data_dir: str, oracles: dict[str, str], remake: bool = False) -> dict:
    """name -> {"rows", "digest", "cols"} of each oracle over ``data_dir``,
    reusing cached entries whose SQL text and data are unchanged."""
    path = os.path.join(data_dir, "digests.json")
    cache = {}
    if os.path.exists(path) and not remake:
        with open(path) as f:
            cache = json.load(f)
    data_key = _data_key(data_dir)
    out, con = {}, None
    for name, sql in sorted(oracles.items()):
        key = hashlib.sha256((data_key + "\n" + sql).encode()).hexdigest()[:16]
        hit = cache.get(name)
        if hit is None or hit.get("key") != key:
            con = con or connect(data_dir)
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            n, dg = table_digest(cur.fetchall(), cols)
            hit = {"key": key, "rows": n, "digest": dg, "cols": sorted(cols)}
        out[name] = hit
    if con is not None:
        con.close()
    if out != {k: cache.get(k) for k in out}:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({**cache, **out}, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return out


def check_tile(name: str, got: dict, want: dict) -> str | None:
    """None if the collected result matches its DuckDB twin, else why not."""
    if sorted(got["cols"]) != want["cols"]:
        return f"{name}: columns {sorted(got['cols'])} != {want['cols']}"
    if got["rows"] != want["rows"] or got["digest"] != want["digest"]:
        return (
            f"{name}: {got['rows']} rows digest {got['digest']} != duckdb"
            f" {want['rows']} rows digest {want['digest']}"
        )
    return None


# --------------------------------------------------------------------------
# ETL export checks
# --------------------------------------------------------------------------

#: DuckDB's own reading of the ClearVue CSV: the ingest's coercions (trim,
#: sentinel strings to NULL, unparseable numbers and dates to NULL, event
#: date = trans date else deposit date) and the reference's fiscal calendar
#: (a month ends on its last Friday; later dates roll into the next month;
#: it starts on the previous month's last Saturday), written out here from
#: the rules rather than taken from the program.
CSV_FACTS_SQL = """
WITH raw AS (
  SELECT * FROM read_csv('{csv}', header=true, all_varchar=true)
), typed AS (
  SELECT
    TRY_CAST("Total Line Price" AS DOUBLE) AS price,
    TRY_CAST("Quantity" AS DOUBLE) AS qty,
    CAST(coalesce(TRY_CAST("Trans Date" AS DATE),
                  TRY_CAST("Deposit Date" AS DATE)) AS DATE) AS d
  FROM raw
), lf AS (
  SELECT *, last_day(d) - CAST((dayofweek(last_day(d)) + 2) % 7 AS INTEGER) AS lfri
  FROM typed
), anch AS (
  SELECT *, CASE WHEN d <= lfri THEN date_trunc('month', d)
                 ELSE date_trunc('month', d) + INTERVAL 1 MONTH END AS a
  FROM lf
)
SELECT price, qty, d AS event_date, strftime(a, '%Y-%m') AS label FROM anch
"""


def _month_revenue(con, sql: str) -> dict[str, str]:
    return {
        lab: str(rev)
        for lab, rev in con.execute(
            f"SELECT label, sum(CAST(price AS DECIMAL(38,6))) FROM ({sql})"
            " GROUP BY label"
        ).fetchall()
    }


def etl_expected(csv_path: str) -> dict:
    """What a correct export of ``csv_path`` must contain, from DuckDB."""
    con = connect()
    try:
        facts = CSV_FACTS_SQL.format(csv=csv_path)
        n, lo, hi, rev, months, flagged = con.execute(
            f"""SELECT count(*), min(event_date), max(event_date),
                sum(CAST(price AS DECIMAL(38,6))), count(DISTINCT label),
                count(*) FILTER (WHERE coalesce(price < 0, false)
                    OR coalesce(qty < 0, false)
                    OR (coalesce(price, 0) = 0 AND coalesce(qty, 0) <> 0))
                FROM ({facts})"""
        ).fetchone()
        return {
            "rows": n,
            "min_date": str(lo),
            "max_date": str(hi),
            "total_revenue": float(rev),
            "n_fiscal_months": months,
            "flagged": flagged,
            "month_revenue": _month_revenue(con, facts),
        }
    finally:
        con.close()


def etl_expected_cached(data_dir: str, remake: bool = False) -> dict:
    """``etl_expected`` of the data set's CSV, cached in
    ``etl_expected.json`` beside it. The cache is keyed, like the tile
    digests, by the code that computes it (this module's source, which
    holds ``CSV_FACTS_SQL``) and by the CSV's hash."""
    import inspect

    csv = os.path.join(data_dir, "clearvue.csv")
    path = os.path.join(data_dir, "etl_expected.json")
    src = inspect.getsource(sys.modules[__name__])
    key = hashlib.sha256((src + "\n" + _file_sha(csv)).encode()).hexdigest()[:16]
    if os.path.exists(path) and not remake:
        with open(path) as f:
            cached = json.load(f)
        if cached.get("key") == key:
            return cached["want"]
    want = etl_expected(csv)
    with open(path + ".tmp", "w") as f:
        json.dump({"key": key, "want": want}, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return want


#: The PNG file signature.
PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: Relative tolerance for the summary sheet's double sums: the engine adds
#: doubles in partition order, DuckDB's reference sum is exact decimal.
DOUBLE_SUM_RTOL = 1e-9


def check_etl_pass(out_dir: str, report: dict, want: dict) -> list[str]:
    """Errors in one pass's export under ``out_dir`` and its collected
    summary ``report`` (see workloads.etl_steps), against ``want``."""
    errs: list[str] = []
    con = connect()
    try:
        for coll in ("sales_lines", "receivables", "payments"):
            files = glob.glob(os.path.join(out_dir, "collections", coll, "*.json"))
            if not files:
                errs.append(f"etl: collection {coll} wrote no JSONL files")
                continue
            src = f"read_json_auto('{os.path.join(out_dir, 'collections', coll)}/*.json', format='newline_delimited')"
            n = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
            if n != want["rows"]:
                errs.append(f"etl: {coll} has {n} rows, csv has {want['rows']}")
            if coll == "sales_lines":
                got = _month_revenue(
                    con,
                    f"SELECT total_line_price AS price, fin_month_label AS label FROM {src}",
                )
                if got != want["month_revenue"]:
                    errs.append("etl: sales_lines revenue per fiscal month differs from duckdb's")
        fact = os.path.join(out_dir, "fact")
        src = f"read_parquet('{fact}/**/*.parquet', hive_partitioning=true)"
        n, bad_range, bad_label = con.execute(
            f"""SELECT count(*),
                count(*) FILTER (WHERE NOT (CAST(event_date AS DATE)
                    BETWEEN CAST(fin_month_start AS DATE) AND CAST(fin_month_end AS DATE))),
                count(*) FILTER (WHERE fin_month_label
                    <> printf('%04d-%02d', CAST(fin_year AS INTEGER), CAST(fin_month_num AS INTEGER)))
                FROM {src}"""
        ).fetchone()
        if n != want["rows"]:
            errs.append(f"etl: fact has {n} rows, csv has {want['rows']}")
        if bad_range:
            errs.append(f"etl: {bad_range} fact rows lie outside their fiscal month")
        if bad_label:
            errs.append(f"etl: {bad_label} fact rows sit in the wrong partition")
        got = _month_revenue(
            con, f"SELECT total_line_price AS price, fin_month_label AS label FROM {src}"
        )
        if got != want["month_revenue"]:
            errs.append("etl: fact revenue per fiscal month differs from duckdb's")
    finally:
        con.close()
    s = report["summary"]
    for k in ("row_count", "min_date", "max_date", "n_fiscal_months"):
        wk = "rows" if k == "row_count" else k
        if str(s[k]) != str(want[wk]):
            errs.append(f"etl: summary {k} {s[k]} != duckdb {want[wk]}")
    if not math.isclose(s["total_revenue"], want["total_revenue"], rel_tol=DOUBLE_SUM_RTOL):
        errs.append(f"etl: summary total_revenue {s['total_revenue']!r} != duckdb {want['total_revenue']!r}")
    months = report["sales_by_month"]
    if sorted(months) != sorted(want["month_revenue"]) or any(
        not math.isclose(v, float(want["month_revenue"][k]), rel_tol=DOUBLE_SUM_RTOL)
        for k, v in months.items()
    ):
        errs.append("etl: sales_by_month sheet differs from duckdb's monthly revenue")
    if report["quality_sample_rows"] != min(1000, want["flagged"]):
        errs.append(
            f"etl: quality sample has {report['quality_sample_rows']} rows,"
            f" duckdb flags {want['flagged']}"
        )
    errs += check_png(bytes.fromhex(report["png_head"]), report["png_size"])
    return errs


def check_png(head: bytes, size: tuple[int, int]) -> list[str]:
    """The first 24 bytes of a PNG: signature, then an IHDR of ``size``."""
    if head[:8] != PNG_SIGNATURE:
        return ["etl: chart does not start with the PNG signature"]
    if head[12:16] != b"IHDR":
        return ["etl: chart has no IHDR chunk first"]
    w, h = struct.unpack(">II", head[16:24])
    if (w, h) != tuple(size):
        return [f"etl: chart is {w}x{h}, asked for {size[0]}x{size[1]}"]
    return []


def main(argv: list[str]) -> int:
    """``--remake``: recompute the cached tile digests and the ETL
    export's expectation for the default data set."""
    import workloads

    if argv != ["--remake"]:
        print("usage: python3 perfbench/oracle.py --remake", file=sys.stderr)
        return 2
    data_dir = workloads.ensure_data()
    got = tile_digests(data_dir, workloads.oracles(), remake=True)
    print(f"{len(got)} digests written to {os.path.join(data_dir, 'digests.json')}")
    etl_expected_cached(data_dir, remake=True)
    print(f"ETL expectation written to {os.path.join(data_dir, 'etl_expected.json')}")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    raise SystemExit(main(sys.argv[1:]))
