"""SQL surface: register the engine's tables as temp views so the whole
operator inventory is reachable from ``spark.sql`` (Catalyst plans SQL
and DataFrame identically; this is the API surface for SQL-first
users)."""

from __future__ import annotations

from pyspark.sql import SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    for t in TESTDATA_TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def register_spans(spark: SparkSession, sf_dir: str) -> None:
    """Register the interleaved span tables (GT + noisy) and their
    exploded/line-grain views — the shapes every correction query
    starts from."""
    from .operators.correction import lines_from_span_arrays, spans_with_line_no
    from .sources.spans import synth_spans

    gt = synth_spans(spark, sf_dir, noisy=False)
    noisy = synth_spans(spark, sf_dir, noisy=True)
    gt.createOrReplaceTempView("spans_gt")
    noisy.createOrReplaceTempView("spans_ocr")
    spans_with_line_no(gt).createOrReplaceTempView("spans_gt_flat")
    spans_with_line_no(noisy).createOrReplaceTempView("spans_ocr_flat")
    lines_from_span_arrays(gt).createOrReplaceTempView("lines_gt")
    lines_from_span_arrays(noisy).createOrReplaceTempView("lines_ocr")


def register_all(spark: SparkSession, sf_dir: str) -> None:
    register_testdata(spark, sf_dir)
    register_spans(spark, sf_dir)
