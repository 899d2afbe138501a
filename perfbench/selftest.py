"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py

On the small data set (``scale=0.1``: the sf0.001 shapes, 6,000 line
items) each workload runs one pass; every output must pass its check. Then
each check must reject a perturbed result: one changed value and one
dropped row in a collected tile, and in the ETL export one changed value
and one dropped row in the JSONL written, one dropped fact file, one
changed summary scalar, and a pass whose export went unchecked because a
step failed. Exits 0 only if all of that holds.
"""

from __future__ import annotations

import copy
import glob
import json
import os
import shutil
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SCALE = 0.1


def _redigest(out: dict) -> dict:
    n, dg = oracle.table_digest(out["data"], out["cols"])
    return {**out, "rows": n, "digest": dg}


def _tile_cases(res: dict, want: dict) -> list[tuple[str, bool]]:
    """(case, check rejected it) for a changed value and a dropped row."""
    cases = []
    outs = res["passes"][0]["outputs"]

    def numeric(v):
        return isinstance(v, (int, float)) and not isinstance(v, bool)

    name, i = next((n, j) for n, o in sorted(outs.items()) if o["rows"] > 1
                   for j, v in enumerate(o["data"][0]) if numeric(v))
    out = outs[name]
    changed = copy.deepcopy(out)
    changed["data"][0][i] += 1
    cases.append((f"{name}: one value changed", oracle.check_tile(name, _redigest(changed), want[name]) is not None))
    dropped = copy.deepcopy(out)
    dropped["data"].pop()
    cases.append((f"{name}: one row dropped", oracle.check_tile(name, _redigest(dropped), want[name]) is not None))
    return cases


def _etl_cases(res: dict, want: dict, scratch: str) -> list[tuple[str, bool]]:
    etl = res["passes"][0]["etl"]
    cases = []

    def perturbed(label, edit, report=etl["report"]):
        d = os.path.join(scratch, label.replace(" ", "_"))
        shutil.copytree(etl["dir"], d)
        edit(d)
        cases.append((f"etl: {label}", bool(oracle.check_etl_pass(d, report, want))))
        shutil.rmtree(d)

    def first_jsonl(d):
        return sorted(f for f in glob.glob(os.path.join(d, "collections", "sales_lines", "*.json"))
                      if os.path.getsize(f))[0]

    def change_value(d):
        p = first_jsonl(d)
        with open(p) as f:
            lines = f.readlines()
        obj = json.loads(lines[0])
        obj["total_line_price"] = (obj.get("total_line_price") or 0.0) + 0.01
        lines[0] = json.dumps(obj) + "\n"
        with open(p, "w") as f:
            f.writelines(lines)

    def drop_row(d):
        p = first_jsonl(d)
        with open(p) as f:
            lines = f.readlines()
        with open(p, "w") as f:
            f.writelines(lines[1:])

    def drop_fact_file(d):
        os.remove(sorted(glob.glob(os.path.join(d, "fact", "**", "*.parquet"), recursive=True))[0])

    perturbed("jsonl value changed", change_value)
    perturbed("jsonl row dropped", drop_row)
    perturbed("fact file dropped", drop_fact_file)
    bad = copy.deepcopy(etl["report"])
    bad["summary"]["row_count"] -= 1
    perturbed("summary scalar changed", lambda d: None, report=bad)
    return cases


def main() -> int:
    data = workloads.ensure_data(SCALE)
    want_tiles = oracle.tile_digests(data, workloads.oracles())
    want_etl = oracle.etl_expected_cached(data)
    ok = True
    for workload in sorted(workloads.WORKLOADS):
        run_dir = os.path.join(workloads.WORK, f"selftest-{workload}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        try:
            args = types.SimpleNamespace(workload=workload, seed=0, seconds=0, trace=0)
            run.T0 = run.time.monotonic()
            res = run.run_worker(args, data, run_dir, ["--passes", "1", "--keep-rows"])
            errs = run.check(res, want_tiles, want_etl)
            n_ops = len(res["operations"])
            print(f"{'PASS' if not errs and not res['failed'] else 'FAIL'} {workload}:"
                  f" {n_ops} operations checked against duckdb")
            for e in errs + res["failed"]:
                print(f"     {e}")
            ok &= not errs and not res["failed"]
            cases = _tile_cases(res, want_tiles)
            if any("etl" in p for p in res["passes"]):
                cases += _etl_cases(res, want_etl, os.path.join(run_dir, "perturbed"))
                unchecked = copy.deepcopy(res)
                for p in unchecked["passes"]:
                    del p["etl"]
                cases.append(("etl: a failed step, export unchecked",
                              bool(run.check(unchecked, want_tiles, want_etl))))
            for label, rejected in cases:
                print(f"{'PASS' if rejected else 'FAIL'} {workload}: check rejects {label}")
                ok &= rejected
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print("self-test passed" if ok else "self-test FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
