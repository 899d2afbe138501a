"""The benchmark's workloads: which operations a pass runs, and how.

A workload is a list of *units*; a pass runs every unit once, in an order
set by the run's seed (the same order on every pass of the run). A unit is
one registry tile (build the query with ``QUERIES[name].fn``, collect its
rows to the client) or the ETL export, a fixed sequence of steps over the
ClearVue CSV. Each tile and each ETL step is one timed operation.
"""

from __future__ import annotations

import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
PACKAGE = "nosql_based_business_intelligence_system_spark"

#: The reference's reports over the star schema (star joins, fiscal
#: calendar, exact decimal money sums) and the same revenue through the
#: Mongo-pipeline frontend.
BI_TILES = (
    "sales_by_fiscal_month",
    "top_products",
    "summary_stats",
    "mongo_region_quarter_revenue",
)

#: Dedup, ANN (exact and IVF), text statistics and LM scoring over the
#: document and embedding tables.
CORPUS_TILES = (
    "dedup_minhash_guarded",
    "dedup_exact_summary",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "doc_text_stats",
    "doc_lm_perplexity",
)

ETL = "etl_export"
ETL_STEPS = ("etl.ingest", "etl.export_collections", "etl.write_partitioned_fact",
             "etl.summary", "etl.chart")
#: Size the ETL chart is rendered at (checked from the PNG header).
CHART_SIZE = (800, 400)

WORKLOADS: dict[str, dict] = {
    "bi_dashboard": {
        "units": BI_TILES + (ETL,),
        "tables": ("region", "nation", "customer", "part", "orders", "lineitem"),
    },
    "corpus_search_dedup": {
        "units": CORPUS_TILES,
        "tables": ("documents", "embeddings"),
    },
}


def operations(units) -> list[str]:
    """Operation names of a pass, in order."""
    ops: list[str] = []
    for u in units:
        ops.extend(ETL_STEPS if u == ETL else (u,))
    return ops


def pass_order(workload: str, seed: int) -> list[str]:
    """The run's unit order: the workload's units shuffled by ``seed``."""
    units = list(WORKLOADS[workload]["units"])
    random.Random(seed).shuffle(units)
    return units


def tile_names() -> list[str]:
    return [u for w in WORKLOADS.values() for u in w["units"] if u != ETL]


def oracles() -> dict[str, str]:
    """Each tile's DuckDB twin, from the registry."""
    from nosql_based_business_intelligence_system_spark.queries import QUERIES

    return {n: QUERIES[n].oracle for n in tile_names()}


def data_dir(scale: float) -> str:
    """Where the inputs for ``scale`` live; keyed by the generator's source
    so an edited generator makes a new data set."""
    import hashlib

    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:10]
    return os.path.join(WORK, f"data-{scale:g}-{tag}")


def ensure_data(scale: float = 1.0) -> str:
    """Generate the inputs once per checkout (atomically: generate into a
    temporary directory, then rename), dropping data sets an older
    generator made."""
    import glob
    import shutil

    import datagen

    out = data_dir(scale)
    if not os.path.isdir(out):
        for old in glob.glob(os.path.join(WORK, f"data-{scale:g}-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = f"{out}.tmp{os.getpid()}"
        datagen.generate(tmp, scale)
        os.replace(tmp, out)
    return out


# --------------------------------------------------------------------------
# the ETL export, as the reference runs it
# --------------------------------------------------------------------------


def etl_steps(spark, data: str, out_dir: str, span):
    """The ETL export's steps as (name, callable) pairs sharing one state;
    ``report()`` gives what the summary step collected, for the checks.

    ``span(name)`` is a context manager the tracer uses around each call
    into ``sources`` (a no-op when untraced).
    """
    from nosql_based_business_intelligence_system_spark.functions import fiscal
    from nosql_based_business_intelligence_system_spark.functions.metrics import (
        with_sales_metrics,
    )
    from nosql_based_business_intelligence_system_spark.sources import (
        charts,
        ingest,
        sinks,
    )

    csv = os.path.join(data, "clearvue.csv")
    st: dict = {}

    def do_ingest():
        with span("sources.ingest"):
            df = ingest.ingest_csv(spark, csv)
        st["df"] = fiscal.with_fiscal_columns(with_sales_metrics(df), "event_date")

    def do_export():
        with span("sources.sinks"):
            sinks.export_collections(st["df"], os.path.join(out_dir, "collections"))

    def do_fact():
        with span("sources.sinks"):
            sinks.write_partitioned_fact(st["df"], os.path.join(out_dir, "fact"))

    def do_summary():
        with span("sources.sinks"):
            sheets = sinks.summary_sheet_inputs(st["df"])
        s = sheets["summary"].collect()[0]
        st["summary"] = s.asDict()
        st["months"] = {r[0]: r[1] for r in sheets["sales_by_month"].collect()}
        st["quality"] = len(sheets["quality_sample"].collect())
        st["sheets"] = sheets

    def do_chart():
        with span("sources.charts"):
            st["png"] = charts.chart_png(
                st["sheets"]["sales_by_month"], "fin_month_label", "revenue",
                width=CHART_SIZE[0], height=CHART_SIZE[1],
            )

    def report() -> dict:
        s = st["summary"]
        return {
            "summary": {
                "row_count": s["row_count"],
                "min_date": str(s["min_date"]),
                "max_date": str(s["max_date"]),
                "total_revenue": float(s["total_revenue"]),
                "n_fiscal_months": s["n_fiscal_months"],
            },
            "sales_by_month": {k: float(v) for k, v in st["months"].items()},
            "quality_sample_rows": st["quality"],
            "png_head": st["png"][:24].hex(),
            "png_size": list(CHART_SIZE),
        }

    steps = list(zip(ETL_STEPS, (do_ingest, do_export, do_fact, do_summary, do_chart)))
    return steps, report
