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

The driver JVM also starts from a class-data-sharing archive (JDK 17's
dynamic CDS, JEP 350): ``-XX:SharedArchiveFile`` maps the Spark classes
a session loads, already parsed and verified, instead of reading them
from 287 jars. On 4 cores, a cold ``pagexml_job_rule`` perfbench job's
set-up (``build_session`` through the first finished Spark job) fell
from a median of 7.2 s to 3.7 s over 10 pairs, and the driver's py4j
``Thread-N`` threads, where cold class loading (``ZipFile``,
``URLClassPath``, ``defineClass``) ran, from 13.1 to 6.6 CPU s.

- **The archive** is ``${XDG_CACHE_HOME:-~/.cache}/cor_asv_ann_spark/
  cds/<key>.jsa``, about 170 MB. The key hashes the JDK (the real path
  of the ``java.home`` that spark-class runs, and its ``release``
  file), the Spark version with the names and sizes of the jars, the
  conf dir and ``spark.driver.memory`` (the heap size decides the
  compressed-oops mode). Writing an archive deletes the other keys'.
- **Training.** On a miss, ``build_session`` runs one training
  subprocess, serialised by ``flock`` on ``<key>.lock``: a session
  launched with ``-XX:ArchiveClassesAtExit`` runs a small synthetic
  workload (range, partitioned parquet write and read, mapInPandas,
  mapInArrow, collect_list, a window, a join, explode and higher-order
  functions), and its JVM writes the archive as it exits. That took
  38.5 s and 53 CPU s on 4 cores, 14 s of it the dump at exit; it
  runs once per machine and key. The subprocess stays in the
  caller's process group, so whoever stops that group stops the
  training too. If training fails or passes ``TRAIN_TIMEOUT_S``, its
  whole process tree is killed, ``<key>.failed`` stops later sessions
  from retrying that key, and the session starts without an archive;
  ``<key>.log`` holds the training's output. Deleting the directory
  resets all of it.
- **The conf dir.** JDK 17 neither writes nor maps an archive while a
  non-empty directory is on the class path, and Spark's launcher puts
  the conf dir there. When the effective conf dir (``SPARK_CONF_DIR``,
  else ``$SPARK_HOME/conf``) is missing or holds only ``*.template``
  files, which Spark never reads, the JVM is launched with
  ``SPARK_CONF_DIR`` pointing at the empty ``cds/conf`` directory, and
  the environment is restored afterwards. A conf dir with a real file
  (``spark-defaults.conf``, ``log4j2.properties``, ...) stays as it is,
  and the session runs without an archive.
- **No archive** is trained or used when the caller passes its own
  ``spark.driver.extraJavaOptions`` (the training subprocess does; that
  ends the recursion) or a JVM is already running (``getOrCreate`` on a
  live gateway, or a driver that spark-submit launched, which gets
  neither). A stale or corrupt archive is skipped by the JVM itself
  (``-Xshare:auto``) and the session starts as without one.
"""

from __future__ import annotations

import fcntl
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import warnings

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# JDK 17 defaults: 5000, 600, 15000, 40000 (see the module docstring)
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)
# a training run took 38.5 s on 4 cores; a cold job must still fit
# perfbench's 150 s job timeout when training fails at this bound
TRAIN_TIMEOUT_S = 90


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
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
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
        .config("spark.driver.memory", driver_memory)
        .config("spark.driver.extraJavaOptions", DRIVER_JIT_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    extra = extra or {}
    for k, v in extra.items():
        b = b.config(k, v)
    # a caller's own JVM options (the training subprocess passes them)
    # or an already running JVM: no archive (see the module docstring)
    own_jvm = (
        "spark.driver.extraJavaOptions" in extra
        or SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
    )
    launch = None if own_jvm else _archive(extra.get("spark.driver.memory", driver_memory))
    if launch is None:
        spark = b.getOrCreate()
    else:
        archive, conf_dir = launch
        b = b.config(
            "spark.driver.extraJavaOptions",
            f'{DRIVER_JIT_OPTIONS} "-XX:SharedArchiveFile={archive}"',
        )
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = conf_dir
        try:
            spark = b.getOrCreate()
        finally:
            if old is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "cor_asv_ann_spark", "cds")


def _conf_dir() -> str:
    """The conf dir Spark's launcher puts on the driver's class path."""
    return os.path.abspath(
        os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    )


def _archive_key(conf_dir: str, driver_memory: str) -> str | None:
    """Hash of what an archive depends on: the JDK that spark-class runs,
    the Spark jars, the conf dir and the heap size (which decides the
    compressed-oops mode). None when no ``java`` is found."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        return None
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            release = f.read()
    except OSError:
        release = b""
    jars = os.path.join(_find_spark_home(), "jars")
    try:
        listing = sorted((e.name, e.stat().st_size) for e in os.scandir(jars))
    except OSError:
        listing = []
    h = hashlib.sha256()
    for part in (java_home, release, pyspark.__version__, listing, conf_dir, driver_memory):
        h.update(repr(part).encode())
    return h.hexdigest()[:16]


def _archive(driver_memory: str) -> tuple[str, str] | None:
    """``(archive path, empty conf dir)`` for the driver JVM's launch, or
    None to launch without an archive. Trains the archive on a miss."""
    conf_dir = _conf_dir()
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        names = []
    except OSError:
        return None
    if not all(n.endswith(".template") for n in names):
        return None  # a real conf file would be lost behind the empty dir
    key = _archive_key(conf_dir, driver_memory)
    if key is None:
        return None
    cache = _cache_dir()
    archive = os.path.join(cache, f"{key}.jsa")
    failed = os.path.join(cache, f"{key}.failed")
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if not (os.path.exists(archive) or os.path.exists(failed)):
            with open(os.path.join(cache, f"{key}.lock"), "a") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                # another process may have trained while this one waited
                if not (os.path.exists(archive) or os.path.exists(failed)):
                    _train(cache, key, empty_conf, driver_memory)
    except OSError as exc:  # an unwritable cache dir: no archive
        warnings.warn(f"no class-data-sharing archive: {exc}", RuntimeWarning, stacklevel=3)
        return None
    return (archive, empty_conf) if os.path.exists(archive) else None


def _train(cache: str, key: str, empty_conf: str, driver_memory: str) -> None:
    """Dump ``<key>.jsa`` from a training subprocess, or write
    ``<key>.failed``. The caller holds ``<key>.lock``."""
    for stale in glob.glob(os.path.join(cache, f"{key}.*.tmp")):
        os.remove(stale)  # left by a trainer killed from outside
    dump = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    log_path = os.path.join(cache, f"{key}.log")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cmd = [
        sys.executable, "-c",
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "from cor_asv_ann_spark.session import _dump_archive; "
        "_dump_archive(sys.argv[2], sys.argv[3])",
        root, dump, driver_memory,
    ]
    env = dict(os.environ, SPARK_CONF_DIR=empty_conf)
    t0 = time.monotonic()
    # same process group: whoever stops this process's group stops the
    # trainer, its JVM and its Python workers too
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=TRAIN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
            _kill_tree(proc)
    if rc == 0 and os.path.isfile(dump) and os.path.getsize(dump) > 0:
        os.replace(dump, os.path.join(cache, f"{key}.jsa"))
        for other in glob.glob(os.path.join(cache, "*.jsa")):
            if os.path.basename(other) != f"{key}.jsa":
                os.remove(other)  # each archive is about 170 MB
        return
    if os.path.exists(dump):
        os.remove(dump)
    why = "timed out" if rc is None else f"exited with {rc}"
    with open(os.path.join(cache, f"{key}.failed"), "w") as f:
        f.write(f"training {why} after {time.monotonic() - t0:.0f} s; see {log_path}\n")
    warnings.warn(
        f"class-data-sharing archive training {why} (see {log_path}); "
        "sessions start without an archive",
        RuntimeWarning,
        stacklevel=4,
    )


def _kill_tree(proc: subprocess.Popen) -> None:
    """SIGKILL ``proc`` and every process below it (the trainer's JVM and
    its Python workers; a pyspark daemon runs in a process group of its
    own), then wait until none of them runs."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            stat = _stat(int(entry))
            if stat is not None:
                children.setdefault(stat[1], []).append(int(entry))
    tree, todo = [], [proc.pid]
    while todo:  # parents before children: a JVM killed first forks no worker
        pid = todo.pop(0)
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    for pid in tree:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(
        (st := _stat(pid)) is not None and st[0] != "Z" for pid in tree
    ):
        time.sleep(0.05)


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, ppid) of a process from ``/proc``, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2 :].split()
    return fields[0].decode(), int(fields[1])


def _dump_archive(dump: str, driver_memory: str) -> None:
    """The training subprocess: a session whose JVM writes the classes it
    loaded to ``dump`` at exit, a small synthetic workload over the Spark
    features the jobs use (no input data), and the JVM's exit."""
    spark = build_session(
        app="cds-training",
        cpus=2,
        extra={
            "spark.driver.memory": driver_memory,
            # without the logging flags the dump prints thousands of warnings
            "spark.driver.extraJavaOptions": f"{DRIVER_JIT_OPTIONS} "
            f'"-XX:ArchiveClassesAtExit={dump}" -Xlog:cds=off -Xlog:cds+dynamic=off',
            "spark.ui.showConsoleProgress": "false",
        },
    )
    jvm = SparkContext._gateway.proc
    try:
        _training_workload(spark)
    finally:
        spark.stop()
        # the gateway JVM exits when its stdin closes; the dump runs at
        # exit, so the trainer ends only after its JVM has
        jvm.stdin.close()
        rc = jvm.wait()
    sys.exit(rc)


def _training_workload(spark) -> None:
    """range, parquet write and read with partitionBy, mapInPandas,
    mapInArrow, a collect_list aggregation, a window, a join, explode and
    higher-order functions, over generated rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as tmp:
        spark.range(1000).count()
        df = spark.range(2000).selectExpr(
            "id", "id % 5 AS k", "cast(id AS string) AS s", "array(id, id + 1, id * 2) AS a"
        )
        df.write.partitionBy("k").parquet(f"{tmp}/p")
        back = spark.read.parquet(f"{tmp}/p")
        lists = back.groupBy("k").agg(F.collect_list("s").alias("ss"))
        (
            back.mapInPandas(lambda it: it, back.schema)
            .mapInArrow(lambda it: it, back.schema)
            .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("id")))
            .join(lists, "k")
            .select(
                "k", "r", F.explode("a").alias("x"),
                F.expr("transform(ss, v -> length(v))").alias("ls"),
                F.expr("filter(a, v -> v % 2 = 0)").alias("even"),
                F.expr("aggregate(a, 0L, (acc, v) -> acc + v)").alias("total"),
            )
            .write.parquet(f"{tmp}/out")
        )
        spark.read.parquet(f"{tmp}/out").count()
