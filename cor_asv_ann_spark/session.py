"""SparkSession factory used by tests, bench, and jobs.

Local mode is single-JVM; the knobs that matter there are
shuffle-partition count (≈ cores), AQE, and Arrow batching for the
pandas-UDF stages. The default batch is 2048 rows: the high-volume
vectorized UDFs (LSH pair verification, simhash packing) amortize
per-batch overhead far better than the old 256 (measured: the
embedding verify alone lost ~0.8 s/pass to 7k tiny batches at sf0.1),
while the inference stage is batch-size-insensitive — the model
corrector vectorizes across whatever Arrow hands it (the reference
batches 256 lines per model call, lib/seq2seq.py:111, purely as its
own fixed buffer size; decode results are per-line and
batch-independent).

The driver JVM starts with C2 (the optimizing JIT tier) held back until
code is really hot: ``DRIVER_JIT_OPTIONS`` raises JDK 17's four tier-4
thresholds tenfold. A real job runs once, in a fresh JVM, and in such a
cold job the JIT itself was the largest CPU consumer. A per-thread
``/proc`` split (``tools/thread_cpu.py``) of a cold 80-page PAGE-XML
job (8-bucket resumable loop, rule corrector, 4 cores) read, in CPU s
at JDK defaults: C2 compiler threads 30-32, py4j ``Thread-N`` 10-12,
executor task threads (the data work) 7.5-8, Python workers 7, C1
compiler threads 7. With the tenfold thresholds the C2 threads took
10 s and the task threads 9.5 s, and the job's CPU fell by a quarter:
code that runs a few thousand times stays at C1, loops that stay hot
still reach C2. C2 is delayed rather than switched off: C1 only
(``-XX:TieredStopAtLevel=1``) cut a cold job's CPU by 43 % but made
the warm ``bench.py`` suite 1.7x slower (``minhash_lsh_pairs`` 3.3x);
thresholds raised thirtyfold were no better cold than tenfold, because
the task threads run longer at C1.

Long-lived sessions (a REPL, ``bench.py``, the test suite) pay for this
trade-off: their methods stay longer at C1 with full profiling (tier 3)
before C2 takes them. After two warm passes of the ``bench.py`` suite
(sf0.1, 4 cores) the JVM held 3.8-4.0 k C2-compiled methods against
7.0-7.3 k at JDK defaults, and ``dedup_simhash``'s higher-order-function
path (``ArrayTransform``/``ArrayFilter`` evaluation, ``NamedLambdaVariable``,
the string-to-long cast) was still at tier 3. That query's second-pass
run took 2.7-2.8 s against 2.0-2.1 s, with more executor task CPU; over
ten more runs the gap shrank from about 0.7 s to 0.05-0.3 s as C2 caught
up.

The options travel as ``spark.driver.extraJavaOptions``, which reaches
only a driver JVM that this call launches. A JVM that is already
running keeps its own JIT settings: under ``spark-submit`` (pass the
same string with ``--driver-java-options``), in a pyspark shell, or
when ``getOrCreate`` returns an existing session. In local mode the
driver JVM also runs the tasks; executor JVMs of a real cluster keep
their defaults. A caller's ``extra={"spark.driver.extraJavaOptions":
...}`` replaces the setting, as any ``extra`` key does.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# JDK 17 defaults: 5000, 600, 15000, 40000 (see the module docstring)
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def spread_input(df, min_parts: int | None = None):
    """Round-robin repartition when the incoming frame has fewer
    partitions than the box has cores: a single-file fixture (one row
    group) or an unsplittable shard otherwise serializes the WHOLE
    narrow prefix of a job — shingling, hashing, explode + partial
    aggregation all run on one core before the first exchange (guide
    §2.5 input skew). No-op on well-split tables, so at warehouse scale
    this never adds an exchange. Only used by operators whose
    aggregates are partition-order independent (integer-exact sums /
    per-row or per-doc computation) — float accumulations keep their
    input partitioning."""
    sc = df.sparkSession.sparkContext
    n = min_parts or sc.defaultParallelism
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        max_pb = int(
            df.sparkSession.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"
            ).rstrip("b")
        )
    except Exception:
        return df
    # fewer estimated splits than cores ⇔ estimated bytes below
    # n × maxPartitionBytes. Plan statistics are analysis-only — the
    # previous df.rdd.getNumPartitions() probe built the whole
    # Python-RDD conversion (~0.3 s of pure overhead per call)
    if size < n * max_pb:
        return df.repartition(n)
    return df


def build_session(
    app: str = "cor_asv_ann_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 2048,
    extra: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cpus]`` — e.g.
    ``local-cluster[4,4,3072]`` for real separate executor JVMs (used by
    ``bench.py --scaling-cluster`` as the closest sandbox analogue of
    the north rule's N- vs 4N-executor cluster runs)."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    # one BLAS thread per Python worker: the numpy inference GEMMs are
    # small, and N workers × multithreaded OpenBLAS oversubscribes the
    # box (measured: local[32] slower than local[8] without this)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep AQE, but not its empty-relation rewrite: when a banded
        # join's capped side comes up empty, that rule prunes the whole
        # observed subtree and the no-silent-caps drop metrics
        # (similarity.cap_buckets, masked_buckets) vanish exactly in the
        # degenerate case they exist to report. The rewrite only saves
        # work on empty-branch queries, which corpus-scale pipelines
        # don't have.
        .config(
            "spark.sql.adaptive.optimizer.excludedRules",
            "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", DRIVER_JIT_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
