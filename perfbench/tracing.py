"""Traced runs: spans, counters and Spark statistics for the layer split.

Everything here is recorded from the benchmark's side of the program's
public calls; nothing in the program is edited. A traced run records:

- spans (name, start, end, parent, operation id) around each call into a
  layer: the query build ``fn()``, plan forcing through the Dataset's own
  ``queryExecution`` (which the action then reuses), the action, and each
  ``sources`` call (``load_table`` inside query builds, and the ETL's
  ingest, sink and chart calls); kept in memory and written out when the
  run ends;
- py4j gateway commands inside query build, from a wrapper on the connection
  (proxy-release ``m`` commands are left out: Python's GC decides them);
- Spark jobs, stages and tasks per job group from ``statusTracker``;
- task CPU, GC, shuffle, spill and skew, parsed offline from a Spark event
  log written into the benchmark's work directory;
- Python time and call counts per package module, from ``cProfile``;
- ``SessionCache`` hits and builds, and fiscal calendar-dimension builds.
"""

from __future__ import annotations

import contextlib
import cProfile
import glob
import json
import os
import pstats
import statistics
import sys
import time

from workloads import PACKAGE

#: Modules whose profiled call counts are reported.
MODULES = ("operators.star", "operators.mongo_query", "operators.dedup",
           "operators.similarity")


class Tracer:
    def __init__(self, event_log_dir: str):
        self.event_log_dir = event_log_dir
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.gateway_build = 0
        self._in_build = False
        self._gw_paused = 0
        self.cache = {"hits": 0, "builds": 0}
        self.dim_builds = 0
        self.profile = cProfile.Profile()
        self.pass_idx: int | None = None

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op, "pass": self.pass_idx,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self._in_build
        self._in_build = prev or name == "queries.build"
        gw0 = self.gateway_build
        try:
            yield rec
        finally:
            self._in_build = prev
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["gateway"] = self.gateway_build - gw0

    @contextlib.contextmanager
    def untimed(self):
        """Benchmark bookkeeping: its gateway commands are not counted."""
        self._gw_paused += 1
        try:
            yield
        finally:
            self._gw_paused -= 1

    # -- hooks ------------------------------------------------------------
    def install(self, spark) -> None:
        """Wrap the py4j connection, SessionCache, the calendar dim and
        ``load_table``."""
        from nosql_based_business_intelligence_system_spark import caching
        from nosql_based_business_intelligence_system_spark.functions import fiscal
        from nosql_based_business_intelligence_system_spark.sources import tables

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted_send(command, *a, **kw):
            if tracer._in_build and not tracer._gw_paused and not command.startswith("m\n"):
                tracer.gateway_build += 1
            return send(command, *a, **kw)

        client.send_command = counted_send

        get_or_build = caching.SessionCache.get_or_build

        def counted_get_or_build(cache, spark_, key, build):
            def counted_build():
                tracer.cache["builds"] += 1
                return build()

            tracer.cache["hits"] += 1  # undone below if it built
            before = tracer.cache["builds"]
            out = get_or_build(cache, spark_, key, counted_build)
            if tracer.cache["builds"] != before:
                tracer.cache["hits"] -= 1
            return out

        caching.SessionCache.get_or_build = counted_get_or_build

        dim = fiscal.fiscal_calendar_dim

        def counted_dim(*a, **kw):
            tracer.dim_builds += 1
            return dim(*a, **kw)

        fiscal.fiscal_calendar_dim = counted_dim

        load = tables.load_table

        def spanned_load(*a, **kw):
            with tracer.span("sources.tables"):
                return load(*a, **kw)

        # every package module that bound the name at import, and the
        # defining module for those that import it later
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(PACKAGE)
                    and getattr(mod, "load_table", None) is load):
                mod.load_table = spanned_load

    def set_group(self, spark, group: str) -> None:
        with self.untimed():
            spark.sparkContext.setJobGroup(group, group)

    def snapshot(self) -> dict:
        return {"gateway_build": self.gateway_build,
                "cache_hits": self.cache["hits"],
                "cache_builds": self.cache["builds"],
                "dim_builds": self.dim_builds}

    # -- Spark statistics ---------------------------------------------------
    def job_counts(self, spark, groups: list[str]) -> dict:
        """Jobs / stages / tasks started under ``groups``, from statusTracker."""
        with self.untimed():
            st = spark.sparkContext.statusTracker()
            jobs = stages = tasks = build_jobs = 0
            for g in groups:
                for jid in st.getJobIdsForGroup(g):
                    jobs += 1
                    build_jobs += g.endswith(":build")
                    info = st.getJobInfo(jid)
                    for sid in info.stageIds if info else ():
                        stages += 1
                        sinfo = st.getStageInfo(sid)
                        tasks += sinfo.numTasks if sinfo else 0
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "build_jobs": build_jobs}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def parse_event_log(event_log_dir: str) -> dict[str, dict]:
    """Per job-group task statistics from the run's Spark event log:
    executor CPU and GC seconds, shuffle and spill MB, and per stage the
    ratio of the slowest task's run time to the median's."""
    # Spark 4 writes one rolling-log directory per application
    files = [p for p in glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    stage_group: dict[int, str] = {}
    runs: dict[tuple[str, int], list[int]] = {}
    out: dict[str, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if g is None or not m:
                        continue
                    acc = out.setdefault(g, {"cpu_s": 0.0, "gc_s": 0.0,
                                             "shuffle_mb": 0.0, "spill_mb": 0.0})
                    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_mb"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0)
                                          + sw.get("Shuffle Bytes Written", 0)) / 2**20
                    acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                        + m.get("Disk Bytes Spilled", 0)) / 2**20
                    runs.setdefault((g, ev["Stage ID"]), []).append(
                        m.get("Executor Run Time", 0))
    skew: dict[str, list[float]] = {}
    for (g, _sid), times in runs.items():
        med = statistics.median(times)
        if len(times) >= 2 and med > 0:
            skew.setdefault(g, []).append(max(times) / med)
    for g, acc in out.items():
        acc["skews"] = skew.get(g, [])
    return out


def profile_stats(profile: cProfile.Profile) -> dict:
    """Python self time in the package, and call counts per module in
    ``MODULES``."""
    stats = pstats.Stats(profile).stats
    pkg_sep = os.sep + PACKAGE + os.sep
    self_s = 0.0
    calls = dict.fromkeys(MODULES, 0)
    for (fname, _line, _fn), (_cc, nc, tt, _ct, _callers) in stats.items():
        i = fname.find(pkg_sep)
        if i < 0 or not fname.endswith(".py"):
            continue
        self_s += tt
        mod = fname[i + len(pkg_sep):-3].replace(os.sep, ".")
        if mod in calls:
            calls[mod] += nc
    return {"package_self_s": self_s, "module_calls": calls}
