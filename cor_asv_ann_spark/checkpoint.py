"""Per-bucket lineage checkpointing for resumable runs (north rule:
"every stage checkpoints per-partition lineage and CER/throughput
metrics ... so a killed job resumes without recomputing completed
partitions").

Design: documents hash into B salt buckets (pmod(xxhash64(doc_id), B)).
The input is staged ONCE before the bucket loop: one job writes the
span table as a parquet snapshot partitioned by bucket, so the upstream
source (a PAGE-XML parse, a span synthesis) runs once per document, not
once per bucket. The driver loop then processes one bucket at a time:
read only that bucket's partition of the snapshot (partition pruning),
run the flagship line assembly + correction
(``correction.correct_span_lines``) on it, write the output partition,
then append one lineage row. On restart, completed buckets are read
back and skipped (an anti-join at driver level — no recomputation), and
a snapshot whose ``_SUCCESS`` marker exists is reused. Each bucket
commit is atomic-enough locally via a per-bucket parquet subdirectory;
on a real cluster the same loop commits Iceberg snapshots
(writeTo().append() per bucket) and the lineage table is an Iceberg
table keyed (run_id, bucket).

The lineage table is tiny (one row per bucket), so the driver reads and
writes it with pyarrow instead of running Spark jobs: a row is written
under a hidden temporary name and ``os.replace``d into a
``part-*.parquet`` file, so a kill between write and rename leaves no
half-written row behind (hidden names are skipped by pyarrow and Spark
alike). Spark reads the directory as before, old Spark-written rows
included. The snapshot lives in the lineage directory under a
``_``-prefixed name, which both readers skip as well, and is removed
once the last bucket commits.

At 10^12 docs the bucket count B is chosen so one bucket ≈ a few
executor-hours; the pipeline inside a bucket still parallelizes across
all executors (buckets are a *resume* grain, not a parallelism grain).
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as pds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .schema import LINEAGE_SCHEMA

_LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)


def read_lineage(lineage_dir: str, run_id: str, columns: list[str]) -> pa.Table:
    """``columns`` of the run's lineage rows, read with pyarrow (no
    Spark job); an absent lineage directory reads as no rows."""
    schema = pa.schema([_LINEAGE_ARROW.field(c) for c in ["run_id", *columns]])
    if not os.path.isdir(lineage_dir):
        return schema.empty_table().select(columns)
    return pds.dataset(lineage_dir, schema=schema, format="parquet").to_table(
        columns=columns, filter=pds.field("run_id") == run_id
    )


def completed_buckets(spark: SparkSession, lineage_dir: str, run_id: str) -> set[int]:
    return set(read_lineage(lineage_dir, run_id, ["bucket"]).column("bucket").to_pylist())


def append_lineage_row(spark: SparkSession, lineage_dir: str, row: dict) -> None:
    os.makedirs(lineage_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(lineage_dir, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist([row], schema=_LINEAGE_ARROW), tmp)
    os.replace(tmp, os.path.join(lineage_dir, name))


def run_resumable(
    spark: SparkSession,
    spans_df: DataFrame,
    out_dir: str,
    lineage_dir: str,
    run_id: str,
    n_buckets: int = 8,
    corrector=None,
    stateful_correct_docs=None,
    confmat_df: DataFrame | None = None,
) -> dict:
    """Correct ``spans_df`` bucket-by-bucket with resume. Returns summary
    metrics. Output lands under ``out_dir/bucket=<b>/``.
    ``stateful_correct_docs`` routes the correction stage through the
    doc-sequential stateful path (state carried across a document's
    lines — correction.correct_lines_stateful). ``confmat_df``
    (CONFMAT_SCHEMA) is the confusion-network channel — bucketed by the
    same doc_id salt and joined onto the line frame exactly as
    correct_pipeline does (shipped across the UDF boundary as JSON)."""
    from .operators.correction import correct_span_lines, reassemble, salt_bucket

    done = completed_buckets(spark, lineage_dir, run_id)
    summary = {"run_id": run_id, "buckets_total": n_buckets, "buckets_skipped": len(done)}
    todo = [b for b in range(n_buckets) if b not in done]
    staged_dir = os.path.join(lineage_dir, "_staged", run_id)
    staged = spans_df.select("doc_id", "spans")
    # explicit read schema: an empty input stages no file to infer it from
    staged_schema = T.StructType(
        staged.schema.fields + [T.StructField("bucket", T.IntegerType())]
    )
    if todo and not os.path.exists(os.path.join(staged_dir, "_SUCCESS")):
        staged.withColumn("bucket", salt_bucket(F.col("doc_id"), n_buckets)).write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(staged_dir)
    n_len = F.expr("aggregate(texts, 0, (a, t) -> a + length(t))")
    for b in todo:
        t0 = time.time()
        bucketed = (
            spark.read.schema(staged_schema)
            .parquet(staged_dir)
            .filter(F.col("bucket") == b)
            .drop("bucket")
        )
        cm_b = None
        if confmat_df is not None:
            cm_b = confmat_df.filter(salt_bucket(F.col("doc_id"), n_buckets) == b)
        # correction (the dominant UDF/inference stage) runs EXACTLY ONCE
        # per bucket: the lineage metrics ride on the write job itself via
        # observe() — no second pass and no persisted copy of the
        # corrected frame (a cache of the full bucket would be the memory
        # bottleneck at 10^12 docs). countDistinct is not allowed in an
        # observation; n_docs comes from the reassembled frame where one
        # row IS one doc.
        obs_lines = Observation()
        obs_docs = Observation()
        lines = correct_span_lines(
            bucketed, corrector, confmat_df=cm_b,
            stateful_correct_docs=stateful_correct_docs,
        ).observe(
            obs_lines,
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(n_len).alias("n_chars"),
            F.sum(F.col("line_cer") * n_len).alias("sum_dist_w"),
            F.avg("line_cer").alias("mean_cer"),
        )
        # with_confs: the model's per-span confidences ride to the sink
        # (read_spans' explicit schema drops the extra column for
        # consumers that only want spans; the PAGE-XML writer uses it)
        out = reassemble(lines, with_confs=True).observe(
            obs_docs, F.count(F.lit(1)).alias("n_docs")
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/bucket={b}")
        m = {**obs_lines.get, **obs_docs.get}
        wall = time.time() - t0
        append_lineage_row(
            spark,
            lineage_dir,
            {
                "run_id": run_id,
                "bucket": b,
                "n_docs": int(m.get("n_docs") or 0),
                "n_lines": int(m.get("n_lines") or 0),
                "n_chars": int(m.get("n_chars") or 0),
                "sum_dist": float(m.get("sum_dist_w") or 0.0),
                "cer": float(m["mean_cer"]) if m.get("mean_cer") is not None else None,
                "wall_sec": wall,
                "docs_per_sec": (int(m.get("n_docs") or 0) / wall) if wall > 0 else None,
                "finished_at": datetime.datetime.now(datetime.timezone.utc),
            },
        )
    shutil.rmtree(staged_dir, ignore_errors=True)
    with contextlib.suppress(OSError):  # other runs' snapshots remain
        os.rmdir(os.path.dirname(staged_dir))
    return summary
