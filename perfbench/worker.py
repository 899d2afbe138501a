"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with the run's resources pinned in the environment;
writes a JSON result file and exits. Sequence:

1. start-up: process start -> ``get_spark`` -> the workload's tables
   resolved (``start_s``);
2. the cold pass, then steady passes until ``--seconds`` have passed
   (whole passes, at least two);
3. ``SETUPS`` session set-ups in the same process: stop the session, pause,
   then ``get_spark`` and resolve the tables again. Each records the CPU
   seconds of the process tree and the wall time; ``setup_s`` is the
   median CPU figure;
4. peak RSS of the process tree, then stop everything.

Collected rows are digested after each pass, outside the pass's timer; the
ETL export writes each pass into its own directory, which the parent checks
with DuckDB after this process has ended.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import cProfile  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from nosql_based_business_intelligence_system_spark.caching import free_blocks  # noqa: E402
from nosql_based_business_intelligence_system_spark.queries import QUERIES  # noqa: E402
from nosql_based_business_intelligence_system_spark.session import get_spark  # noqa: E402
from nosql_based_business_intelligence_system_spark.sources.tables import load_table  # noqa: E402

import oracle  # noqa: E402
import procfs  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

#: In-process set-ups after the passes; the first ``SETUP_WARMUPS`` are
#: not counted, since the JIT is still compiling the set-up path then.
SETUPS = 10
SETUP_WARMUPS = 2
MIN_STEADY = 2
SETTLE_S = 0.2


def _setup(conf: dict, tables, data: str):
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t_spark = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    for name in tables:
        load_table(spark, data, name)
    return spark, t_spark - t, time.perf_counter() - t_spark


def settle(spark) -> None:
    """Between passes, outside every timer: release the previous pass's
    unreferenced blocks (a full GC) and let the cleaner's asynchronous
    tail finish before the next pass starts."""
    free_blocks(spark)
    time.sleep(SETTLE_S)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--passes", type=int, default=0,
                    help="run exactly this many passes, all counted steady (self-test)")
    ap.add_argument("--keep-rows", action="store_true",
                    help="keep the collected rows in the result (self-test)")
    a = ap.parse_args(argv)
    tables = workloads.WORKLOADS[a.workload]["tables"]

    tracer = None
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    if a.trace:
        log_dir = os.path.join(a.out, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        tracer = tracing.Tracer(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + log_dir})

    spark, get_spark_s, tables_s = _setup(conf, tables, a.data)
    start_s = time.perf_counter() - T0
    me = os.getpid()
    if tracer:
        tracer.install(spark)

    def span(name, op=None):
        return tracer.span(name, op) if tracer else contextlib.nullcontext()

    units = workloads.pass_order(a.workload, a.seed)
    ops = workloads.operations(units)
    passes: list[dict] = []
    failed: list[str] = []

    def run_pass(idx: int) -> dict:
        out_dir = os.path.join(a.out, f"pass-{idx}")
        rec = {"index": idx, "ops": {}, "outputs": {}, "errors": []}
        collected: dict[str, tuple] = {}
        etl_report = None
        groups: list[str] = []
        before = tracer.snapshot() if tracer else None
        if tracer:
            tracer.pass_idx = idx
            tracer.profile = cProfile.Profile()
            tracer.profile.enable()
        cpu0 = procfs.tree_cpu_s(me)
        t_pass = time.perf_counter()
        for u in units:
            if u == workloads.ETL:
                steps, report = workloads.etl_steps(spark, a.data, out_dir, span)
                ok = True
                for name, fn in steps:
                    if tracer:
                        g = f"{idx}:{name}:exec"
                        tracer.set_group(spark, g)
                        groups.append(g)
                    t = time.perf_counter()
                    try:
                        if ok:
                            with span("op", name):
                                fn()
                    except Exception:
                        ok = False
                        rec["errors"].append(f"{name}: {traceback.format_exc(limit=3)}")
                    rec["ops"][name] = time.perf_counter() - t
                    if not ok:
                        failed.append(name)
                if ok:
                    etl_report = report
                continue
            t = time.perf_counter()
            try:
                with span("op", u):
                    if tracer:
                        g = f"{idx}:{u}:build"
                        tracer.set_group(spark, g)
                        groups.append(g)
                    with span("queries.build", u):
                        df = QUERIES[u].fn(spark, a.data)
                    if tracer:
                        g = f"{idx}:{u}:exec"
                        tracer.set_group(spark, g)
                        groups.append(g)
                        with span("spark.plan", u):
                            df._jdf.queryExecution().executedPlan()
                    with span("spark.exec", u):
                        rows = df.collect()
                rec["ops"][u] = time.perf_counter() - t
                collected[u] = (df, rows)
            except Exception:
                rec["ops"][u] = time.perf_counter() - t
                failed.append(u)
                rec["errors"].append(f"{u}: {traceback.format_exc(limit=3)}")
        rec["wall_s"] = time.perf_counter() - t_pass
        rec["cpu_s"] = procfs.tree_cpu_s(me) - cpu0
        if tracer:
            tracer.profile.disable()
            after = tracer.snapshot()
            rec["trace"] = {k: after[k] - before[k] for k in after}
            rec["trace"].update(tracer.job_counts(spark, groups))
            rec["trace"].update(tracing.profile_stats(tracer.profile))
            rec["trace"]["groups"] = groups
        # digests, outside the pass's timer
        ctx = tracer.untimed() if tracer else contextlib.nullcontext()
        with ctx:
            for u, (df, rows) in collected.items():
                cols = df.columns
                n, dg = oracle.table_digest(rows, cols)
                rec["outputs"][u] = {"rows": n, "digest": dg, "cols": cols}
                if a.keep_rows:
                    rec["outputs"][u]["data"] = [list(r) for r in rows]
        if etl_report is not None:
            rec["etl"] = {"dir": out_dir, "report": etl_report()}
        return rec

    if a.passes:
        for idx in range(a.passes):
            passes.append({**run_pass(idx), "kind": "steady"})
    else:
        passes.append({**run_pass(0), "kind": "cold"})
        steady_t0 = time.perf_counter()
        while len(passes) < 1 + MIN_STEADY or time.perf_counter() - steady_t0 < a.seconds:
            settle(spark)
            passes.append({**run_pass(len(passes)), "kind": "steady"})

    rss_mb = procfs.tree_peak_rss_mb(me)
    setups = []
    if not a.passes:
        for _ in range(SETUPS):
            spark.stop()
            time.sleep(SETTLE_S)
            cpu0 = procfs.tree_cpu_s(me)
            spark, g_s, t_s = _setup(conf, tables, a.data)
            setups.append({"cpu_s": procfs.tree_cpu_s(me) - cpu0, "wall_s": g_s + t_s})
    spark.stop()

    result = {
        "workload": a.workload,
        "seed": a.seed,
        "order": units,
        "operations": ops,
        "start_s": start_s,
        "get_spark_s": get_spark_s,
        "tables_s": tables_s,
        "setups": setups[SETUP_WARMUPS:],
        "peak_rss_mb": rss_mb,
        "passes": passes,
        "failed": failed,
    }
    if tracer:
        result["event_log"] = tracing.parse_event_log(tracer.event_log_dir)
        trace_path = os.path.join(a.out, "trace.json")
        tracer.write(trace_path, {"workload": a.workload, "seed": a.seed})
        result["trace_file"] = trace_path
    with open(a.result + ".tmp", "w") as f:
        json.dump(result, f, default=str)
    os.replace(a.result + ".tmp", a.result)
    _shutdown_gateway()
    return 0


def _shutdown_gateway() -> None:
    """Stop the py4j gateway JVM this process launched, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
