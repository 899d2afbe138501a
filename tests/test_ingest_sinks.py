"""ETL spine tests: messy-CSV ingest (sentinels, garbage numerics, bad
dates), JSONL collection export round-trip, partitioned fact layout."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from nosql_based_business_intelligence_system_spark.functions import fiscal
from nosql_based_business_intelligence_system_spark.functions.metrics import with_sales_metrics
from nosql_based_business_intelligence_system_spark.sources import ingest, sinks

MESSY_CSV = """Doc Number,Customer  Number,Total Line Price,Quantity,Trans Date,Region Desc,Unnamed: 0
D1,C1,100.5,2,2024-01-10,  North ,0
D2,C2,garbage,3,2024-01-27,nan,1
D3,C3,50.0,not_a_number,bad-date,null,2
D4,,200.0,4,2024-12-28,South,3
"""


def _write_csv(d: str) -> str:
    p = os.path.join(d, "messy.csv")
    with open(p, "w") as f:
        f.write(MESSY_CSV)
    return p


def test_ingest_csv_cleans_and_coerces(spark):
    with tempfile.TemporaryDirectory() as d:
        df = ingest.ingest_csv(spark, _write_csv(d))
        assert set(df.columns) >= {
            "doc_number", "customer_number", "total_line_price", "quantity",
            "trans_date", "region_desc", "event_date",
        }
        assert "unnamed_0" not in df.columns  # P2 drop
        rows = {r.doc_number: r for r in df.collect()}
        assert rows["D2"].total_line_price is None  # NF1 coerce
        assert rows["D3"].quantity is None
        assert rows["D3"].trans_date is None  # DF1 coerce
        assert rows["D1"].region_desc == "North"  # SF1 trim
        assert rows["D2"].region_desc is None  # SF2 sentinel
        assert rows["D3"].region_desc is None
        assert rows["D1"].event_date.isoformat() == "2024-01-10"


def test_find_column_fuzzy():
    cols = ["product_code", "product_desc_long", "brand_name"]
    assert ingest.find_column(["product_desc", "desc"], cols) == "product_desc_long"
    assert ingest.find_column(["brand"], cols) == "brand_name"
    assert ingest.find_column(["zzz"], cols) is None


def test_to_snake():
    assert ingest.to_snake("Total  Line Price") == "total_line_price"
    assert ingest.to_snake("Unnamed: 0") == "unnamed_0"
    assert ingest.to_snake("__Weird--Name__") == "weird_name"


def _enriched(spark, d):
    df = ingest.ingest_csv(spark, _write_csv(d))
    df = df.withColumn("last_cost", F.lit(10.0))
    df = with_sales_metrics(df)
    return fiscal.with_fiscal_columns(df, "event_date")


def test_export_collections_jsonl(spark):
    with tempfile.TemporaryDirectory() as d:
        enriched = _enriched(spark, d)
        paths = sinks.export_collections(enriched, os.path.join(d, "out"))
        assert set(paths) == {"sales_lines", "receivables", "payments"}
        # JSONL round-trip: one object per line, Spark reads its own output
        back = spark.read.json(paths["sales_lines"])
        assert back.count() == 4
        # the reference declares fin_week_label but never computes it
        # (Project.py:371 vs the guard at :373); our engine realizes the
        # latent feature, so the existence filter now keeps it
        assert "fin_week_label" in back.columns
        assert "fin_month_label" in back.columns
        # raw JSONL line is a JSON object with nulls, not "NaN" strings
        part = [
            os.path.join(paths["payments"], f)
            for f in os.listdir(paths["payments"])
            if f.endswith(".json")
        ][0]
        with open(part) as fh:
            obj = json.loads(fh.readline())
        assert isinstance(obj, dict)


def test_partitioned_fact_layout(spark):
    with tempfile.TemporaryDirectory() as d:
        enriched = _enriched(spark, d)
        out = os.path.join(d, "fact")
        sinks.write_partitioned_fact(enriched, out)
        dirs = {p for p in os.listdir(out) if p.startswith("fin_year=")}
        # Dec 28 rolls to FY2025; the bad-date row lands in the NULL partition
        assert dirs == {
            "fin_year=2024",
            "fin_year=2025",
            "fin_year=__HIVE_DEFAULT_PARTITION__",
        }
        back = spark.read.parquet(out)
        assert back.count() == 4
        # partition pruning: a fiscal-month predicate must prune files
        pruned = back.filter((F.col("fin_year") == 2025) & (F.col("fin_month_num") == 1))
        assert pruned.count() == 1


def test_write_csv_roundtrip(spark):
    """S2: write_csv writes a header and every row (quoted commas, NULLs
    as empty fields); Spark reads the same rows back, and a second write
    to the path replaces the first."""
    df = spark.createDataFrame(
        [("D1", 2, 100.5, "North, East"), ("D2", None, 0.25, None)],
        "doc string, qty int, price double, region string",
    )
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "csv")
        sinks.write_csv(df, out)
        sinks.write_csv(df, out)
        parts = [f for f in os.listdir(out) if f.endswith(".csv")]
        for part in parts:
            with open(os.path.join(out, part)) as fh:
                assert fh.readline().strip() == "doc,qty,price,region"
        back = spark.read.option("header", True).schema(df.schema).csv(out)
        assert sorted(back.collect(), key=lambda r: r.doc) == df.collect()


def test_summary_sheet_inputs(spark):
    with tempfile.TemporaryDirectory() as d:
        sheets = sinks.summary_sheet_inputs(_enriched(spark, d))
        s = sheets["summary"].collect()[0]
        assert s.row_count == 4
        assert sheets["sales_by_month"].count() >= 2
        # excel write degrades gracefully without xlsxwriter
        ok = sinks.write_excel_report(sheets, os.path.join(d, "r.xlsx"))
        assert ok in (True, False)


def test_jsonl_roundtrip_through_ingest(spark):
    """Sink JSONL -> ingest_jsonl: measures return typed, labels survive."""
    with tempfile.TemporaryDirectory() as d:
        enriched = _enriched(spark, d)
        paths = sinks.export_collections(enriched, os.path.join(d, "out"))
        back = ingest.ingest_jsonl(spark, paths["sales_lines"])
        assert back.count() == enriched.count()
        assert dict(back.dtypes)["quantity"] == "double"
        assert dict(back.dtypes)["total_line_price"] == "double"
        got = {r.fin_month_label for r in back.select("fin_month_label").collect()}
        want = {r.fin_month_label for r in enriched.select("fin_month_label").collect()}
        assert got == want


def test_observe_quality_metrics(spark):
    """Observation metrics ride the same action — no second scan."""
    with tempfile.TemporaryDirectory() as d:
        df = ingest.ingest_csv(spark, _write_csv(d))
        observed, obs = ingest.observe_quality(df)
        observed.write.format("noop").mode("overwrite").save()
        m = obs.get
        assert m["n_rows"] == 4
        assert m["n_null_total_line_price"] == 1  # the 'garbage' coerce
        assert m["n_null_quantity"] == 1


def test_ingest_jsonl_surfaces_corrupt_records(spark):
    """A malformed JSONL line must not kill the read (PERMISSIVE mode);
    good rows survive and the corruption is countable."""
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "data.jsonl")
        with open(p, "w") as f:
            f.write('{"doc_number": "D1", "quantity": 2}\n')
            f.write("{THIS IS NOT JSON\n")
            f.write('{"doc_number": "D2", "quantity": 3}\n')
        # cache first: Spark refuses queries that reference ONLY the internal
        # corrupt-record column against the raw file scan
        back = ingest.ingest_jsonl(spark, p).cache()
        try:
            assert back.filter(F.col("doc_number").isNotNull()).count() == 2
            # spark's _corrupt_record column, snake_cased by normalize_names
            assert "corrupt_record" in back.columns
            assert back.filter(F.col("corrupt_record").isNotNull()).count() == 1
        finally:
            back.unpersist()


def test_csv_quarantine_splits_malformed_rows(spark):
    """Schema-violating CSV lines land in the quarantine frame with their
    raw text; clean rows flow through the full clean pipeline untouched."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("Doc Number", StringType()),
            StructField("Quantity", DoubleType()),
        ]
    )
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "rows.csv")
        with open(p, "w") as f:
            f.write("Doc Number,Quantity\n")
            f.write("D1,2.5\n")
            f.write("D2,not-a-number\n")
            f.write("D3,4.0\n")
        good, bad = ingest.ingest_csv_quarantine(spark, p, schema)
        good_rows = {r.doc_number: r.quantity for r in good.collect()}
        bad_rows = [r.raw_line for r in bad.collect()]
        assert good_rows == {"D1": 2.5, "D3": 4.0}
        assert bad_rows == ["D2,not-a-number"]
