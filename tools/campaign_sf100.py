"""One-command, resumable sf100 (third-decade) verification campaign.

r10 verdict item 4: the r10 campaign was a hand-driven split-mode sequence
(--spark-only then --oracle-only, per-query budget babysitting, one ENOSPC
casualty from sharing the spill disk). This folds it into one unattended,
re-invocable runner:

  python tools/campaign_sf100.py [sf_dir] [options]

Campaign plan (derived from the LIVE registry, not a frozen table):
  * guard-proven quadratic pair lists (GUARD_EXPECTED) — their sf100
    evidence IS the measured PairExplosionError fail-fast: fn() runs in a
    subprocess and the campaign asserts the guard fires.
  * rows-only entries (``oracle_sql`` omitted) — spark-side row count
    recorded; the driver's own check is rows-only for these too.
  * entries declaring ``sample_col`` — sampled twin at 16^-SAMPLE_N
    (default 2: both engines keep only rows whose md5(sample_col) starts
    with N zero hex chars; the id filter pushes into the oracle's joins,
    which is what makes the pair twins completable at all — r10's 16^-1
    attempt exceeded 45 min, see PLANS.md).
  * everything else — full unsampled twin.

Phases, each resumable from the state file in --workdir:
  1. spark: ``verify_local --spark-only`` recordings, one subprocess per
     chunk (completed queries persist incrementally; a timed-out chunk is
     retried query-by-query so one hang can't sink the batch).
  2. guard: expectation subprocesses for GUARD_EXPECTED.
  3. oracle: JVM-free ``verify_local --oracle-only`` compares, ONE
     subprocess per query with a wall budget and a spill-disk free-space
     pre-check (pricing the twin's scratch the way the engine's
     pair_guard prices its own pair stages — the r10 ENOSPC death was
     exactly a twin spilling into a disk something else was filling).
  4. tail: the minhash tail check (tools/verify_minhash_tail_sf100.py)
     as a recorded per-query mode — keep/clusters re-derived by an
     independent python union-find from the Spark pair list, compared
     against the spark-phase recordings (r11 advisory 7: one artifact,
     one state file).
  report: print the PLANS.md campaign table from the state file.

Re-invoking skips everything already green; ``--force q...`` re-runs
specific queries. Exit 0 iff every planned entry is green or documented
(guard-fired / rows-recorded / budget-exceeded entries listed explicitly —
budget-exceeded is an exit-2 condition so an unattended run can't silently
downgrade coverage).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: Quadratic pair-list contracts whose disk guard PROVES they do not run at
#: sf100 (2.9e11 candidate pairs priced against the scratch budget) — the
#: campaign asserts the fail-fast instead of recording a hash.
GUARD_EXPECTED = (
    "dedup_ngram_jaccard",
    "dedup_fuzzy_keep",
    "dedup_clusters",
    "dedup_cross_corpus",
    "dedup_minhash",
    "dedup_simhash",
)

#: Per-query overrides: oracle wall budget (seconds) and/or min free GB on
#: the spill disk before the twin is admitted. The minhash-family twins
#: embed the banded pair computation in DuckDB — they get the long budget
#: and the big-disk admission; everything else defaults.
ORACLE_BUDGET_S = 1200
ORACLE_MIN_FREE_GB = 40
SPARK_BUDGET_S = 900
OVERRIDES: dict[str, dict] = {
    # min_free_gb 55: the r10 ENOSPC death came from SHARING the spill
    # disk with two other oracle processes; solo with a 90GB memory
    # limit the banded twins barely spill, and a solo ENOSPC is a clean
    # recorded failure rather than a cross-process blast — the admission
    # bar prices the sharing hazard, not the twin's worst case.
    "dedup_minhash_guarded": {"budget": 2700, "min_free_gb": 55},
    "dedup_cross_corpus_minhash": {"budget": 2700, "min_free_gb": 55},
    "dedup_fuzzy_keep_minhash": {"budget": 2700, "min_free_gb": 55},
    "dedup_clusters_minhash": {"budget": 2700, "min_free_gb": 55},
    "dsir_selected_docs": {"budget": 2400},
    "doc_lm_perplexity": {"budget": 2400},
    "line_metrics": {"budget": 2400},
}


def _plan(queries) -> dict[str, dict]:
    plan = {}
    for name, q in queries.items():
        if name in GUARD_EXPECTED:
            mode = "guard"
        elif q.oracle is None:
            mode = "rows"
        elif q.sample_col:
            mode = "sampled"
        else:
            mode = "full"
        plan[name] = {"mode": mode}
    return plan


def _load(path: str) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def _save(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _free_gb(path: str) -> float:
    os.makedirs(path, exist_ok=True)
    return shutil.disk_usage(path).free / 1e9


def _run(cmd, timeout, env=None):
    """Run a subprocess, return (rc, tail_of_output, wall_s); rc=-9 on
    timeout. The child gets its OWN process group (start_new_session) and
    on timeout the WHOLE group is SIGKILLed before the pipe is drained —
    subprocess.run's own timeout only kills the direct python child, so a
    pyspark JVM / DuckDB grandchild inheriting the stdout pipe would keep
    the read blocked forever AND keep holding the memory/spill disk the
    admission prechecks priced (r11 advice 1: the exact r10 ENOSPC
    sharing hazard)."""
    import signal

    t0 = time.time()
    p = subprocess.Popen(
        cmd,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        env=env,
        text=True,
        start_new_session=True,
    )
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, (out or "")[-8000:], time.time() - t0
    except subprocess.TimeoutExpired:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        out, _ = p.communicate()
        return -9, (out or "")[-8000:], time.time() - t0


def phase_spark(sf_dir, workdir, state, plan, chunk, spark_mem, only, force):
    """Record the Spark side per sample level; resumable via the recording
    files themselves (verify_local persists each query atomically)."""
    from nosql_based_business_intelligence_system_spark.queries import QUERIES

    by_level: dict[int | None, list[str]] = {}
    for name, p in plan.items():
        if only and name not in only:
            continue
        if p["mode"] == "guard":
            continue
        level = SAMPLE_N if p["mode"] == "sampled" else None
        by_level.setdefault(level, []).append(name)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=spark_mem)
    for level, names in sorted(
        by_level.items(), key=lambda kv: (kv[0] is not None, kv[0] or 0)
    ):
        rec_path = os.path.join(
            workdir, f"rec_{'full' if level is None else f's{level}'}.json"
        )
        recorded = _load(rec_path)
        todo = [
            n for n in names
            if n not in recorded or n in force
        ]
        if not todo:
            continue
        # verify_local --spark-only re-records everything it's ASKED to
        # run; resume = ask only for the missing ones.
        flag = [] if level is None else [f"--sample={level}"]
        for i in range(0, len(todo), chunk):
            batch = todo[i : i + chunk]
            budget = sum(
                OVERRIDES.get(n, {}).get("budget", SPARK_BUDGET_S)
                for n in batch
            )
            print(
                f"[spark] level={level} chunk {i // chunk + 1}: "
                f"{len(batch)} queries, budget {budget}s"
            )
            cmd = [
                sys.executable,
                os.path.join(REPO, "tools", "verify_local.py"),
                f"--spark-only={rec_path}",
                *flag,
                sf_dir,
                *batch,
            ]
            rc, out, wall = _run(cmd, budget, env)
            done_now = set(_load(rec_path))
            missing = [n for n in batch if n not in done_now]
            if rc == -9 and missing:
                print(
                    f"[spark] chunk timed out at {wall:.0f}s; retrying "
                    f"{len(missing)} singly"
                )
                for n in missing:
                    b1 = OVERRIDES.get(n, {}).get("budget", SPARK_BUDGET_S)
                    rc1, out1, w1 = _run(cmd[:-len(batch)] + [n], b1, env)
                    if n not in _load(rec_path):
                        state["queries"].setdefault(n, {})[
                            "spark"
                        ] = f"timeout:{b1}s" if rc1 == -9 else "error"
                        print(out1[-2000:])
            elif rc not in (0, 1) and rc != -9:
                # rc=1 is verify_local's "some FAIL" — per-query status is
                # in the recording; a crash (e.g. OOM-kill) is not.
                print(out[-3000:])
        recorded = _load(rec_path)
        for n in names:
            if n in recorded:
                r = recorded[n]
                state["queries"].setdefault(n, {})["spark"] = {
                    "rows": r["rows"],
                    "hash": r.get("hash"),
                    "sample": r.get("sample"),
                }
        _save(os.path.join(workdir, "state.json"), state)


_GUARD_SNIPPET = """
import sys
sys.path.insert(0, {repo!r})
from nosql_based_business_intelligence_system_spark.queries import QUERIES
from nosql_based_business_intelligence_system_spark.operators.dedup import (
    PairExplosionError,
)
from nosql_based_business_intelligence_system_spark.session import get_spark
spark = get_spark(app_name="campaign-guard")
try:
    QUERIES[{name!r}].fn(spark, {sf_dir!r})
except PairExplosionError as e:
    print("GUARD-FIRED:", str(e)[:300])
    sys.exit(0)
print("NO-GUARD: fn() returned without pricing failure")
sys.exit(3)
"""


def phase_guard(sf_dir, workdir, state, plan, spark_mem, only, force):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=spark_mem)
    for name in GUARD_EXPECTED:
        if only and name not in only:
            continue
        cur = state["queries"].setdefault(name, {})
        if cur.get("result") == "guard-fired" and name not in force:
            continue
        print(f"[guard] {name}: expecting PairExplosionError")
        rc, out, wall = _run(
            [
                sys.executable,
                "-c",
                _GUARD_SNIPPET.format(repo=REPO, name=name, sf_dir=sf_dir),
            ],
            OVERRIDES.get(name, {}).get("budget", SPARK_BUDGET_S),
            env,
        )
        if rc == 0 and "GUARD-FIRED" in out:
            line = [l for l in out.splitlines() if "GUARD-FIRED" in l][0]
            cur["result"] = "guard-fired"
            cur["detail"] = line[:300]
            cur["secs"] = round(wall, 1)
        else:
            cur["result"] = (
                f"guard-timeout:{wall:.0f}s" if rc == -9 else "guard-MISSING"
            )
            print(out[-2000:])
        _save(os.path.join(workdir, "state.json"), state)


def phase_oracle(sf_dir, workdir, state, plan, duckdb_mem, only, force):
    spill = os.path.join(workdir, "duckdb_spill")
    for name, p in plan.items():
        if only and name not in only:
            continue
        if p["mode"] in ("guard",):
            continue
        cur = state["queries"].setdefault(name, {})
        if p["mode"] == "rows":
            if isinstance(cur.get("spark"), dict):
                cur["result"] = "rows-recorded"
            continue
        if cur.get("result") == "OK" and name not in force:
            continue
        if not isinstance(cur.get("spark"), dict):
            cur["result"] = "no-spark-recording"
            continue
        ov = OVERRIDES.get(name, {})
        need = ov.get("min_free_gb", ORACLE_MIN_FREE_GB)
        free = _free_gb(spill)
        if free < need:
            # admission control, the in-engine pair_guard's analog:
            # refuse to start a twin the disk can't absorb.
            cur["result"] = f"disk-refused:{free:.0f}GB<{need}GB"
            print(f"[oracle] {name}: {cur['result']}")
            _save(os.path.join(workdir, "state.json"), state)
            continue
        level = SAMPLE_N if p["mode"] == "sampled" else None
        rec_path = os.path.join(
            workdir, f"rec_{'full' if level is None else f's{level}'}.json"
        )
        flag = [] if level is None else [f"--sample={level}"]
        budget = ov.get("budget", ORACLE_BUDGET_S)
        print(f"[oracle] {name}: budget {budget}s, free {free:.0f}GB")
        env = dict(
            os.environ,
            SPARK_GRAFT_DUCKDB_MEM=duckdb_mem,
            SPARK_GRAFT_DUCKDB_SPILL=spill,
        )
        rc, out, wall = _run(
            [
                sys.executable,
                os.path.join(REPO, "tools", "verify_local.py"),
                f"--oracle-only={rec_path}",
                *flag,
                sf_dir,
                name,
            ],
            budget,
            env,
        )
        lines = [
            l
            for l in out.splitlines()
            if l.startswith(("OK", "FAIL", "BIG", "rows", "skip"))
        ]
        tail = lines[-1] if lines else out[-200:]
        if rc == 0:
            cur["result"] = "OK"
            cur["detail"] = tail[:300]
        elif rc == -9:
            cur["result"] = f"oracle-budget-exceeded:{budget}s"
        else:
            cur["result"] = "FAIL"
            cur["detail"] = tail[:300]
            print(out[-2000:])
        cur["oracle_secs"] = round(wall, 1)
        _save(os.path.join(workdir, "state.json"), state)


#: Queries whose sf100 evidence comes from the minhash TAIL check
#: (tools/verify_minhash_tail_sf100.py): the DuckDB twins are proven
#: infeasible at sf100 (recorded oracle deaths), so an independent
#: python union-find re-derives keep/clusters from the Spark pair list
#: and compares against the --spark-only recordings.
TAIL_QUERIES = ("dedup_fuzzy_keep_minhash", "dedup_clusters_minhash")


def phase_tail(sf_dir, workdir, state, spark_mem, force):
    """r11 advisory 7: run the minhash tail check as a recorded campaign
    mode, so the third-decade evidence table is ONE artifact with ONE
    state file (previously campaign-state + a side tool's stdout)."""
    done = all(
        state["queries"].get(q, {}).get("result") == "tail-OK"
        for q in TAIL_QUERIES
    )
    if done and not (force & set(TAIL_QUERIES)):
        return
    rec_path = os.path.join(workdir, "rec_full.json")
    if not os.path.exists(rec_path):
        print("[tail] no rec_full.json yet — run the spark phase first")
        return
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=spark_mem)
    rc, out, wall = _run(
        [sys.executable, os.path.join(REPO, "tools", "verify_minhash_tail_sf100.py"),
         sf_dir, rec_path],
        timeout=3600,
        env=env,
    )
    print(out[-2000:])
    for q in TAIL_QUERIES:
        cur = state["queries"].setdefault(q, {})
        line_ok = f"OK    {q}:" in out
        cur["result"] = "tail-OK" if (rc == 0 and line_ok) else "tail-FAIL"
        cur["tail_secs"] = round(wall, 1)
    _save(os.path.join(workdir, "state.json"), state)


def report(state, plan, only=()) -> int:
    rows = []
    bad = 0
    for name, p in sorted(plan.items()):
        if only and name not in only:
            continue
        cur = state["queries"].get(name, {})
        res = cur.get("result", "-")
        sp = cur.get("spark")
        n = sp["rows"] if isinstance(sp, dict) else "-"
        mode = p["mode"]
        if mode == "sampled":
            mode = f"sampled 16^-{SAMPLE_N}"
        rows.append((name, mode, res, n))
        ok = res in ("OK", "guard-fired", "rows-recorded", "tail-OK")
        bad += 0 if ok else 1
    if not rows:
        print("no entries (empty state file or --only matched nothing)")
        return 0
    w = max(len(r[0]) for r in rows)
    print(f"{'query'.ljust(w)} | mode | result | spark rows")
    for r in rows:
        print(f"{r[0].ljust(w)} | {r[1]} | {r[2]} | {r[3]}")
    greens = sum(1 for r in rows if r[2] == "OK")
    print(
        f"\n{greens} cross-engine green, "
        f"{sum(1 for r in rows if r[2] == 'guard-fired')} guard-proven, "
        f"{sum(1 for r in rows if r[2] == 'rows-recorded')} rows-only, "
        f"{sum(1 for r in rows if r[2] == 'tail-OK')} tail-checked, "
        f"{bad} not green"
    )
    return 2 if bad else 0


SAMPLE_N = 2


def main() -> int:
    global SAMPLE_N
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = {}
    only, force = set(), set()
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only.update(a.split("=", 1)[1].split(","))
        elif a.startswith("--force="):
            force.update(a.split("=", 1)[1].split(","))
        elif a.startswith("--"):
            k, _, v = a[2:].partition("=")
            opts[k] = v or True
    sf_dir = args[0] if args else "/tmp/sf100"
    workdir = opts.get("workdir") or "/tmp/campaign_" + os.path.basename(
        sf_dir.rstrip("/")
    )
    os.makedirs(workdir, exist_ok=True)
    SAMPLE_N = int(opts.get("sample", 2))
    phase = opts.get("phase", "all")
    chunk = int(opts.get("chunk", 12))
    spark_mem = opts.get("spark-mem", "48g")
    duckdb_mem = opts.get("duckdb-mem", "60GB")

    from nosql_based_business_intelligence_system_spark.queries import QUERIES

    plan = _plan(QUERIES)
    state_path = os.path.join(workdir, "state.json")
    state = _load(state_path) or {"sf_dir": sf_dir, "queries": {}}
    state.setdefault("queries", {})

    if phase in ("spark", "all"):
        phase_spark(
            sf_dir, workdir, state, plan, chunk, spark_mem, only, force
        )
    if phase in ("guard", "all"):
        phase_guard(sf_dir, workdir, state, plan, spark_mem, only, force)
    if phase in ("oracle", "all"):
        phase_oracle(sf_dir, workdir, state, plan, duckdb_mem, only, force)
    if phase in ("tail", "all"):
        phase_tail(sf_dir, workdir, state, spark_mem, force)
    _save(state_path, state)
    if phase in ("report", "all"):
        return report(state, plan, only)
    return 0


if __name__ == "__main__":
    sys.exit(main())
