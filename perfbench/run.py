"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. makes the inputs (once per checkout, under ``perfbench/.work``) and the
   DuckDB digests every tile is checked against;
2. starts a fresh worker process (``worker.py``) with its resources pinned:
   ``local[N]`` with N = min(4, nproc) task slots and a 2 GiB JVM heap;
3. checks every steady pass's outputs against DuckDB;
4. prints each metric by name and unit, and as its last line one JSON
   object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
   end-to-end metrics with ``--trace 0``, the per-layer ones with
   ``--trace 1``).

It exits non-zero, printing no result, when the program under test is
missing or the run cannot finish within ``RUN_LIMIT_S``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

#: Whole-run limit; the worker is stopped if it would pass it.
RUN_LIMIT_S = 170
#: Time kept back for the checks and the report after the worker ends.
CHECK_RESERVE_S = 25
JVM_HEAP = "2g"
MAX_SLOTS = 4

END_TO_END = (
    ("setup_s", "s"),
    ("cold_cpu_s", "s"),
    ("cpu_s_per_pass", "s"),
)

PER_LAYER = (
    ("session.start_s", "s"),
    ("session.get_spark_s", "s"),
    ("tables.resolve_s", "s"),
    ("queries.build_s", "s"),
    ("queries.gateway_calls", "count"),
    ("queries.build_jobs", "count"),
    ("spark.plan_s", "s"),
    ("spark.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.task_max_over_median", "ratio"),
    ("python.package_s", "s"),
    ("operators.star.calls", "count"),
    ("operators.mongo_query.calls", "count"),
    ("operators.dedup.calls", "count"),
    ("operators.similarity.calls", "count"),
    ("functions.fiscal.dim_builds", "count"),
    ("caching.hit_ratio", "ratio"),
    ("caching.builds", "count"),
    ("sources.entry_s", "s"),
    ("sources.sinks_mb_written", "MB"),
    ("memory.peak_rss_mb", "MB"),
    ("trace.cold_pass_s", "s"),
    ("trace.warm_pass_s", "s"),
    ("trace.op_latency_geomean_s", "s"),
)


#: The spans around calls into ``sources``; they do not nest in each other.
#: ``sources.entry_s`` is their sum. Their split is printed, not put in the
#: JSON line: only ``sources.tables`` is entered on every workload, and a
#: time that reads exactly 0.0 on every run shows nothing.
SOURCES_SPANS = ("sources.tables", "sources.ingest", "sources.sinks", "sources.charts")


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 2**20


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    if proc.poll() is None:
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
    deadline = time.monotonic() + 10
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        if time.monotonic() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
            deadline = time.monotonic() + 5
        time.sleep(0.1)
    if proc.poll() is None:
        proc.wait()


def run_worker(args, data: str, run_dir: str, extra: list[str] = ()) -> dict:
    """Start ``worker.py`` in its own session with pinned resources; return
    its result, or raise RuntimeError if it fails or overruns."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    slots = min(MAX_SLOTS, os.cpu_count() or 1)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYTHONHASHSEED": "0",
    })
    for k in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_SF_DIR"):
        env.pop(k, None)
    result = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--out", run_dir, "--result", result, *extra]
    log_path = os.path.join(run_dir, "worker.log")
    budget = RUN_LIMIT_S - CHECK_RESERVE_S - (time.monotonic() - T0)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            pass
        finally:
            overran = proc.poll() is None
            _stop_group(proc)
    if overran or proc.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        why = "ran out of time" if overran else f"exited with {proc.returncode}"
        raise RuntimeError(f"worker {why}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def check(res: dict, want_tiles: dict, want_etl: dict) -> list[str]:
    """Every output of every steady pass against DuckDB's. A tile that
    raised is counted as failed and has no output to check. The ETL export
    is checked as a whole, so a failed step leaves the steps before it
    unchecked: that is an error here too."""
    import oracle

    errs: list[str] = []
    for p in res["passes"]:
        if p["kind"] != "steady":
            continue
        for name, got in p["outputs"].items():
            e = oracle.check_tile(name, got, want_tiles[name])
            if e:
                errs.append(f"pass {p['index']}: {e}")
        if "etl" in p:
            errs += [f"pass {p['index']}: {e}"
                     for e in oracle.check_etl_pass(p["etl"]["dir"], p["etl"]["report"], want_etl)]
        elif workloads.ETL in res["order"]:
            errs.append(f"pass {p['index']}: ETL export not checked: a step failed")
    return errs


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def op_latency_geomean(res: dict) -> float:
    """Geometric mean over the operations of each one's median steady
    latency: every operation weighs the same."""
    steady = [p for p in res["passes"] if p["kind"] == "steady"]
    meds = [_median([p["ops"][o] for p in steady]) for o in res["operations"]]
    return math.exp(sum(math.log(max(m, 1e-9)) for m in meds) / len(meds))


def end_to_end(res: dict) -> dict[str, float]:
    steady = [p for p in res["passes"] if p["kind"] == "steady"]
    cold = next(p for p in res["passes"] if p["kind"] == "cold")
    return {
        "setup_s": _median([st["cpu_s"] for st in res["setups"]]),
        "cold_cpu_s": cold["cpu_s"],
        "cpu_s_per_pass": _median([p["cpu_s"] for p in steady]),
    }


def per_layer(res: dict, sinks_mb: dict[int, float]) -> dict[str, float]:
    import tracing

    steady = [p for p in res["passes"] if p["kind"] == "steady"]
    with open(res["trace_file"]) as f:
        spans = json.load(f)["spans"]
    ev = res["event_log"]

    def span_s(p, name):
        return sum(s["end"] - s["start"] for s in spans
                   if s["pass"] == p["index"] and s["name"] == name)

    def sources_s(p):
        return sum(span_s(p, n) for n in SOURCES_SPANS)

    def ev_sum(p, key):
        return sum(ev.get(g, {}).get(key, 0.0) for g in p["trace"]["groups"])

    def skew(p):
        xs = [x for g in p["trace"]["groups"] for x in ev.get(g, {}).get("skews", ())]
        return _median(xs) if xs else 1.0

    def hit_ratio(t):
        calls = t["cache_hits"] + t["cache_builds"]
        return t["cache_hits"] / calls if calls else 0.0

    per_pass = {
        "queries.build_s": lambda p: span_s(p, "queries.build"),
        "queries.gateway_calls": lambda p: p["trace"]["gateway_build"],
        "queries.build_jobs": lambda p: p["trace"]["build_jobs"],
        "spark.plan_s": lambda p: span_s(p, "spark.plan"),
        "spark.exec_s": lambda p: span_s(p, "spark.exec"),
        "spark.jobs": lambda p: p["trace"]["jobs"],
        "spark.stages": lambda p: p["trace"]["stages"],
        "spark.tasks": lambda p: p["trace"]["tasks"],
        "spark.executor_cpu_s": lambda p: ev_sum(p, "cpu_s"),
        "spark.gc_s": lambda p: ev_sum(p, "gc_s"),
        "spark.shuffle_mb": lambda p: ev_sum(p, "shuffle_mb"),
        "spark.spill_mb": lambda p: ev_sum(p, "spill_mb"),
        "spark.task_max_over_median": skew,
        "python.package_s": lambda p: p["trace"]["package_self_s"],
        "functions.fiscal.dim_builds": lambda p: p["trace"]["dim_builds"],
        "caching.hit_ratio": lambda p: hit_ratio(p["trace"]),
        "caching.builds": lambda p: p["trace"]["cache_builds"],
        "sources.entry_s": sources_s,
        "sources.sinks_mb_written": lambda p: sinks_mb.get(p["index"], 0.0),
        "trace.warm_pass_s": lambda p: p["wall_s"],
    }
    for mod in tracing.MODULES:
        per_pass[f"{mod}.calls"] = lambda p, m=mod: p["trace"]["module_calls"][m]
    cold = next(p for p in res["passes"] if p["kind"] == "cold")
    out = {"session.start_s": res["start_s"], "session.get_spark_s": res["get_spark_s"],
           "tables.resolve_s": res["tables_s"], "memory.peak_rss_mb": res["peak_rss_mb"],
           "trace.cold_pass_s": cold["wall_s"],
           "trace.op_latency_geomean_s": op_latency_geomean(res)}
    for name, fn in per_pass.items():
        out[name] = _median([fn(p) for p in steady])
    split = {f"{n}_s": _median([span_s(p, n) for p in steady]) for n in SOURCES_SPANS}
    return out, split


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, workloads.PACKAGE, "__init__.py")):
        return _fail(f"the program under test ({workloads.PACKAGE}) is not in {ROOT}")
    import oracle

    data = workloads.ensure_data()
    want_tiles = oracle.tile_digests(data, workloads.oracles())
    want_etl = oracle.etl_expected_cached(data)

    run_dir = os.path.join(workloads.WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        try:
            res = run_worker(args, data, run_dir)
        except RuntimeError as e:
            return _fail(str(e))
        errs = check(res, want_tiles, want_etl)
        if args.trace:
            sinks_mb = {p["index"]: _dir_mb(p["etl"]["dir"])
                        for p in res["passes"] if "etl" in p}
            metrics, split = per_layer(res, sinks_mb)
            units = dict(PER_LAYER)
            traces = os.path.join(workloads.WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(res["trace_file"], os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics, split = end_to_end(res), {}
            units = dict(END_TO_END)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    steady = [p for p in res["passes"] if p["kind"] == "steady"]
    print(f"workload {args.workload} seed {args.seed}: "
          f"{len(res['passes'])} passes ({len(steady)} steady), "
          f"order {' '.join(res['order'])}")
    for p in res["passes"]:
        counts = ""
        if "trace" in p:
            t = p["trace"]
            counts = (f"  gateway {t['gateway_build']}  build jobs {t['build_jobs']}"
                      f"  jobs {t['jobs']}")
        print(f"  pass {p['index']:2d} {p['kind']:7s} wall {p['wall_s']:7.3f} s"
              f"  cpu {p['cpu_s']:7.2f} s{counts}")
        for e in p["errors"]:
            print(f"FAILED pass {p['index']}: {e}")
    for o in res["operations"]:
        cold = res["passes"][0]["ops"][o]
        warm = _median([p["ops"][o] for p in steady])
        print(f"  {o:32s} cold {cold:7.3f} s  steady median {warm:7.3f} s")
    for i, st in enumerate(res["setups"]):
        print(f"  set-up {i} cpu {st['cpu_s']:7.3f} s  wall {st['wall_s']:7.3f} s")
    for e in errs:
        print(f"CHECK FAILED {e}")
    for name, value in split.items():
        print(f"{name:32s} {value:14.6f} s")
    for name, value in metrics.items():
        print(f"{name:32s} {value:14.6f} {units[name]}")
    attempted = len(res["operations"]) * len(res["passes"])
    line = {
        "correct": not errs,
        "attempted": attempted,
        "failed": len(res["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
