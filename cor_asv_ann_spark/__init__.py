"""cor_asv_ann_spark — a from-scratch PySpark-native OCR post-correction
extraction engine with the query/data-processing capabilities of
ASVLeipzig/cor-asv-ann (reference studied read-only at /root/reference).

Layout
------
corelib/    pure-Python semantics (alignment, edit metrics, whitespace
            redistribution, OCR-noise model) — unit-testable without Spark;
            these are the "gold" functions the Spark pipeline must match.
model/      forward-only numpy seq2seq (encoder–attention–decoder LSTM)
            with greedy + beam decoding, weights broadcast to executors.
sources/    span-table synthesis + readers/writers (parquet now, Iceberg
            behind an import-try).
operators/  Spark DataFrame operators: correction pipeline, evaluation
            (CER/WER/confusion/histogram), dedup, similarity search,
            text statistics, multimodal plumbing.
plans/      plan helpers (salting, explain capture).
streaming/  Structured Streaming demos over the events table.
checkpoint  per-bucket lineage + resume.
"""

import sys
import zipimport

__version__ = "0.1.0"


def _keep_zip_directory(self) -> None:
    """No-op ``zipimporter.invalidate_caches`` (installed below)."""


# pyspark's worker calls importlib.invalidate_caches() before EVERY task
# (worker_util.setup_spark_files). Before 3.13, zipimporter answers that
# by re-reading the whole archive directory at once, and a worker imports
# pyspark and py4j from the zips Spark ships ($SPARK_HOME/python/lib,
# ~1300 entries) through about 16 cached importers — measured at 0.24 CPU
# s per task on a 4-core host (CPython 3.11, Spark 4.1), the bulk of a
# short task. 3.13 made the call a lazy cache
# drop. The shipped zips never change under a live worker, and a zip
# added to sys.path later still gets a fresh importer that reads its
# directory, so the re-read buys nothing here. Every worker that runs one
# of this package's UDFs imports the package when it unpickles the UDF.
if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
