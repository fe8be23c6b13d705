"""Resume-from-lineage: a killed run must not recompute completed
buckets, and the resumed output must equal a clean full run."""

import os
import shutil

from pyspark.sql import functions as F

from cor_asv_ann_spark.checkpoint import completed_buckets, run_resumable
from cor_asv_ann_spark.sources.spans import synth_spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_resume_skips_completed_buckets(spark, sf_small, tmp_path):
    noisy = synth_spans(spark, sf_small, noisy=True).cache()
    out1 = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")

    # full run
    s1 = run_resumable(spark, noisy, out1, lin, run_id="r1", n_buckets=4)
    assert s1["buckets_skipped"] == 0
    assert completed_buckets(spark, lin, "r1") == {0, 1, 2, 3}

    # simulate a kill after bucket 1: drop lineage rows for buckets 2,3
    df = spark.read.parquet(lin)
    kept = df.filter(F.col("bucket") < 2).toPandas()
    shutil.rmtree(lin)
    spark.createDataFrame(kept, schema=df.schema).write.parquet(lin)
    out2 = str(tmp_path / "out2")
    # stale outputs for 0,1 remain in out1; resumed run writes only 2,3
    s2 = run_resumable(spark, noisy, out2, lin, run_id="r1", n_buckets=4)
    assert s2["buckets_skipped"] == 2
    import os

    assert sorted(os.listdir(out2)) == ["bucket=2", "bucket=3"]

    # resumed buckets' content matches the full run's same buckets
    a = spark.read.parquet(f"{out1}/bucket=2").select("doc_id", F.explode("spans").alias("s"))
    b = spark.read.parquet(f"{out2}/bucket=2").select("doc_id", F.explode("spans").alias("s"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # lineage rows carry throughput + CER metrics
    rows = spark.read.parquet(lin).collect()
    assert all(r.wall_sec > 0 and r.n_docs > 0 for r in rows)
    assert all(r.docs_per_sec is not None for r in rows)


def test_checkpoint_single_execution(spark, sf_small, tmp_path):
    """The correction UDF must run EXACTLY ONCE per line per bucket —
    output write and lineage metrics both derive from the persisted
    corrected-lines frame (a second inference pass doubles the dominant
    cost of the whole job at scale)."""
    from cor_asv_ann_spark.operators.correction import (
        assemble_lines,
        charmap_corrector,
        spans_with_line_no,
    )

    noisy = synth_spans(spark, sf_small, noisy=True).cache()
    n_lines = assemble_lines(spans_with_line_no(noisy)).count()
    acc = spark.sparkContext.accumulator(0)

    def counting_corrector(texts):
        acc.add(len(texts))
        return charmap_corrector(texts)

    run_resumable(
        spark,
        noisy,
        str(tmp_path / "out"),
        str(tmp_path / "lineage"),
        run_id="single",
        n_buckets=2,
        corrector=counting_corrector,
    )
    assert acc.value == n_lines, (
        f"corrector saw {acc.value} lines for {n_lines} input lines — "
        "correction executed more than once per bucket"
    )


def test_real_kill9_mid_job_resume(spark, tmp_path):
    """The north rule's resumability, demonstrated for real: the
    spark-submit entry is SIGKILLed mid-run (no cleanup, no atexit —
    the cluster-preemption case), then re-invoked with the same run-id
    and output dir. The resumed run must skip every lineage-committed
    bucket, rewrite any partially-written one (lineage commits AFTER
    the bucket write, so a torn bucket has no lineage row and
    mode=overwrite repairs it), and the final output must equal a
    clean run's, span for span."""
    import os
    import signal
    import subprocess
    import sys
    import time

    env = dict(os.environ)
    base = [sys.executable, "jobs/run_correction.py",
            "--sf-dir", "/root/testdata/sf0.001", "--buckets", "10",
            "--cpus", "4", "--run-id", "kill9"]

    # clean reference run
    clean_out = str(tmp_path / "clean_out")
    r = subprocess.run(
        base + ["--output", clean_out, "--lineage", str(tmp_path / "clean_lin"),],
        capture_output=True, text=True, cwd=ROOT, timeout=900)
    assert r.returncode == 0, r.stderr[-2000:]

    # killed run: SIGKILL the whole process group once >=2 buckets
    # committed but before all 10 are
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lin")
    p = subprocess.Popen(
        base + ["--output", out, "--lineage", lin],
        cwd=ROOT, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, env=env)
    killed = False
    deadline = time.time() + 600
    while time.time() < deadline and p.poll() is None:
        n_committed = 0
        if os.path.isdir(lin):
            n_committed = sum(1 for f in os.listdir(lin)
                              if f.endswith(".parquet"))
        if 2 <= n_committed <= 8:
            os.killpg(os.getpgid(p.pid), signal.SIGKILL)
            killed = True
            break
        time.sleep(0.2)
    p.wait(timeout=60)
    # if the job outran the poller, resumption is trivially a full skip —
    # still assert it, but the interesting path needs the kill to land
    assert killed, "job finished before the kill window; widen buckets"

    # resumed run: same run-id, same output + lineage dirs
    r2 = subprocess.run(
        base + ["--output", out, "--lineage", lin],
        capture_output=True, text=True, cwd=ROOT, timeout=900)
    assert r2.returncode == 0, r2.stderr[-2000:]
    import json

    rep = json.loads(r2.stdout.strip().splitlines()[-1])
    assert rep["buckets_skipped"] >= 2, rep
    assert rep["buckets_skipped"] < 10, rep

    # output equality, span for span (NB: verify on the suite's shared
    # session — build_session().getOrCreate() would RETURN that session
    # and stopping it here would kill Spark for every later test)
    a = spark.read.parquet(clean_out).select(
        "doc_id", F.posexplode("spans").alias("i", "s"))
    b = spark.read.parquet(out).select(
        "doc_id", F.posexplode("spans").alias("i", "s"))
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_resumable_parses_each_page_once(spark, sf_small, tmp_path, monkeypatch):
    """The input is staged once before the bucket loop: over a PAGE-XML
    source, every page goes through the parse exactly once however many
    buckets there are (the lazy parse used to re-run for each bucket),
    and the job's output equals the flagship pipeline's, span for span."""
    import os

    from cor_asv_ann_spark.operators.correction import correct_pipeline
    from cor_asv_ann_spark.sources import pagexml

    pages = str(tmp_path / "pages")
    n_pages = pagexml.synth_pagexml_corpus(spark, sf_small, pages, noisy=True)
    acc = spark.sparkContext.accumulator(0)
    parse_files = pagexml._parse_files_spans_arrow

    def counting_parse(level, on_error="fail"):
        parse = parse_files(level, on_error)

        def counted(batches):
            for batch in parse(batches):
                acc.add(batch.num_rows)
                yield batch

        return counted

    monkeypatch.setattr(pagexml, "_parse_files_spans_arrow", counting_parse)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    spans = pagexml.read_pagexml(spark, pages)
    run_resumable(spark, spans, out, lin, run_id="once", n_buckets=4)
    assert acc.value == n_pages
    # the staged snapshot is gone once every bucket committed
    assert sorted(os.listdir(out)) == [f"bucket={b}" for b in range(4)]
    assert not any(f.startswith("_") for f in os.listdir(lin))

    cols = ["doc_id", "spans", "span_confs"]
    got = sorted(spark.read.parquet(out).select(*cols).collect())
    want = sorted(correct_pipeline(spans, with_confs=True).select(*cols).collect())
    assert len(got) == n_pages
    assert got == want


def test_lineage_mixes_spark_and_arrow_rows(spark, tmp_path):
    """Lineage directories written by Spark (part-*.snappy.parquet +
    _SUCCESS) stay readable next to the driver-written rows; a hidden
    temporary file left by a kill between write and rename is no row;
    Spark still reads the directory with LINEAGE_SCHEMA's types."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from cor_asv_ann_spark.checkpoint import append_lineage_row
    from cor_asv_ann_spark.schema import LINEAGE_SCHEMA

    lin = str(tmp_path / "lineage")

    def row(run_id, b):
        return {"run_id": run_id, "bucket": b, "n_docs": 1, "n_lines": 2,
                "n_chars": 3, "sum_dist": 0.5, "cer": None, "wall_sec": 1.0,
                "docs_per_sec": 1.0,
                "finished_at": datetime.datetime.now(datetime.timezone.utc)}

    spark.createDataFrame([row("r", 0), row("other", 1)], schema=LINEAGE_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(lin)
    assert any(f.endswith(".snappy.parquet") for f in os.listdir(lin))
    assert "_SUCCESS" in os.listdir(lin)
    append_lineage_row(spark, lin, row("r", 2))
    # a row written but never renamed into place
    pq.write_table(pa.Table.from_pylist([row("r", 3)]), os.path.join(lin, ".part-x.parquet.tmp"))

    assert completed_buckets(spark, lin, "r") == {0, 2}
    assert completed_buckets(spark, lin, "other") == {1}
    assert completed_buckets(spark, str(tmp_path / "missing"), "r") == set()
    df = spark.read.parquet(lin)
    types = {f.name: f.dataType for f in df.schema.fields}
    assert types == {f.name: f.dataType for f in LINEAGE_SCHEMA.fields}
    assert isinstance(types["bucket"], T.IntegerType)
    assert isinstance(types["finished_at"], T.TimestampType)
    assert sorted(r.bucket for r in df.collect()) == [0, 1, 2]


def test_empty_input_and_empty_bucket_commit(spark, tmp_path):
    """A bucket without documents still commits a lineage row
    (n_docs = 0), so a resume skips it instead of redoing it — for an
    empty input and for an empty bucket of a non-empty input alike."""
    from cor_asv_ann_spark.schema import SPANS_SCHEMA

    one_doc = [("d1", [("word", "ſo", None, 0), ("newline", "\n", None, 2)])]
    for name, rows, n_buckets in (("empty", [], 2), ("sparse", one_doc, 4)):
        spans = spark.createDataFrame(rows, schema=SPANS_SCHEMA)
        out, lin = str(tmp_path / f"{name}_out"), str(tmp_path / f"{name}_lin")
        s1 = run_resumable(spark, spans, out, lin, run_id=name, n_buckets=n_buckets)
        assert s1["buckets_skipped"] == 0
        lineage = spark.read.parquet(lin).collect()
        assert sorted(r.bucket for r in lineage) == list(range(n_buckets))
        assert sum(r.n_docs for r in lineage) == len(rows)
        assert sum(r.n_docs == 0 for r in lineage) == n_buckets - len(rows)
        s2 = run_resumable(spark, spans, out, lin, run_id=name, n_buckets=n_buckets)
        assert s2["buckets_skipped"] == n_buckets
        assert spark.read.parquet(lin).count() == n_buckets
    got = spark.read.parquet(str(tmp_path / "sparse_out")).collect()
    assert [(r.doc_id, [s.text for s in r.spans]) for r in got] == [("d1", ["so", "\n"])]


def test_job_summary_equals_lineage_sums(spark, sf_small, tmp_path):
    """jobs/run_correction.py prints its closing summary from the run's
    lineage rows (read with pyarrow): the totals, the wall-clock rate
    and the CER mean with null rows skipped, over this run's rows only —
    here one bucket committed before the job started (cer null) and a
    row of another run."""
    import datetime
    import json
    import subprocess
    import sys

    from cor_asv_ann_spark.checkpoint import append_lineage_row

    lin = str(tmp_path / "lineage")
    for run_id in ("sum", "other"):
        append_lineage_row(spark, lin, {
            "run_id": run_id, "bucket": 0, "n_docs": 7, "n_lines": 70,
            "n_chars": 700, "sum_dist": 0.0, "cer": None, "wall_sec": 0.5,
            "docs_per_sec": 14.0,
            "finished_at": datetime.datetime.now(datetime.timezone.utc)})
    r = subprocess.run(
        [sys.executable, "jobs/run_correction.py", "--sf-dir", sf_small,
         "--buckets", "3", "--cpus", "2", "--run-id", "sum",
         "--output", str(tmp_path / "out"), "--lineage", lin],
        capture_output=True, text=True, cwd=ROOT, timeout=900)
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(r.stdout.strip().splitlines()[-1])
    assert rep["buckets_skipped"] == 1

    rows = spark.read.parquet(lin).filter(F.col("run_id") == "sum").collect()
    assert len(rows) == 3
    docs = sum(x.n_docs for x in rows)
    wall = sum(x.wall_sec for x in rows)
    cers = [x.cer for x in rows if x.cer is not None]
    assert len(cers) == 2
    assert rep["n_docs"] == docs > 7
    assert rep["n_lines"] == sum(x.n_lines for x in rows)
    assert rep["wall_sec"] == round(wall, 2)
    assert rep["docs_per_sec"] == round(docs / wall, 1)
    assert rep["mean_cer"] == round(sum(cers) / len(cers), 6)
