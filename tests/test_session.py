"""The session factory's JVM settings, read back from the running JVM, and
the lifecycle of the driver's class-data-sharing archive."""

import glob
import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _vm_option(spark, name: str) -> str:
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


def test_driver_jvm_delays_c2(spark):
    """build_session raises JDK 17's tier-4 (C2) thresholds tenfold in
    the driver JVM, so a cold job's C2 threads compile only hot code."""
    got = {
        name: int(_vm_option(spark, name))
        for name in (
            "Tier4InvocationThreshold",
            "Tier4MinInvocationThreshold",
            "Tier4CompileThreshold",
            "Tier4BackEdgeThreshold",
        )
    }
    assert got == {
        "Tier4InvocationThreshold": 50000,
        "Tier4MinInvocationThreshold": 6000,
        "Tier4CompileThreshold": 150000,
        "Tier4BackEdgeThreshold": 400000,
    }


def test_shared_fixture_runs_from_archive(spark):
    """The shared session's driver JVM was launched with the archive."""
    assert _vm_option(spark, "SharedArchiveFile").endswith(".jsa")


# Each lifecycle case runs a fresh Python process (its own driver JVM)
# with the archive cache under tmp_path. The preamble gives the script
# the archive's keyed path and the option a JVM was launched with.
PREAMBLE = """
import glob, json, os, sys
sys.path.insert(0, {root!r})
from cor_asv_ann_spark import session
from cor_asv_ann_spark.session import build_session
MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
ARCHIVE = os.path.join(
    session._cache_dir(), session._archive_key(session._conf_dir(), MEMORY) + ".jsa"
)

def vm_option(spark, name):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return bean.getVMOption(name).getValue()
"""


def _run(script: str, tmp_path, **env) -> dict:
    """Run ``script`` in a fresh process; it prints one JSON line last."""
    full = dict(os.environ, XDG_CACHE_HOME=str(tmp_path), **env)
    full.pop("PYSPARK_GATEWAY_PORT", None)
    if "SPARK_CONF_DIR" not in env:
        full.pop("SPARK_CONF_DIR", None)
    code = PREAMBLE.format(root=ROOT) + textwrap.dedent(script)
    res = subprocess.run(
        [sys.executable, "-c", code], env=full, cwd=ROOT,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_cold_cache_trains_one_archive_then_loads_from_it(tmp_path):
    """(a) A first session on an empty cache trains exactly one keyed
    archive, leaves no temp file and no training process; a second
    session loads Spark's own classes from that archive."""
    first = _run(
        """
        spark = build_session(cpus=2)
        mine = {os.getpid(), spark.sparkContext._gateway.proc.pid}
        tag = ("XDG_CACHE_HOME=" + os.environ["XDG_CACHE_HOME"]).encode()
        others = []  # processes of this test other than this one and its JVM
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/environ", "rb") as f:
                    env = f.read().split(b"\\0")
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if tag in env and int(pid) not in mine and state != "Z":
                others.append(pid)
        print(json.dumps({"archive": ARCHIVE, "others": others,
                          "option": vm_option(spark, "SharedArchiveFile")}))
        spark.stop()
        """,
        tmp_path,
    )
    cds = os.path.dirname(first["archive"])
    assert glob.glob(os.path.join(cds, "*.jsa")) == [first["archive"]]
    assert glob.glob(os.path.join(cds, "*.tmp")) == []
    assert first["others"] == []
    assert first["option"] == first["archive"]

    log = tmp_path / "class-load.log"
    _run(
        """
        spark = build_session(cpus=2)
        print(json.dumps({"n": spark.range(3).count()}))
        spark.stop()
        """,
        tmp_path,
        JAVA_TOOL_OPTIONS=f"-Xlog:class+load=info:file={log}",
    )
    loads = [line for line in log.read_text().splitlines()
             if " org.apache.spark.SparkContext source:" in line]
    assert loads and "source: shared objects file (top)" in loads[0], loads


def test_corrupt_archive_still_starts_a_session(tmp_path):
    """(b) A garbage or truncated file at the keyed path is skipped by
    the JVM: the session starts and runs a job."""
    for content in (b"not an archive", b""):
        got = _run(
            f"""
            os.makedirs(os.path.dirname(ARCHIVE), exist_ok=True)
            with open(ARCHIVE, "wb") as f:
                f.write({content!r})
            spark = build_session(cpus=2)
            print(json.dumps({{"n": spark.range(1).count(),
                              "size": os.path.getsize(ARCHIVE)}}))
            spark.stop()
            """,
            tmp_path,
        )
        assert got == {"n": 1, "size": len(content)}


def test_real_conf_dir_is_read_and_no_archive_is_used(tmp_path):
    """(c) A conf dir with a real file stays on the class path: Spark reads
    it, and no archive is trained or used."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cor.probe x\n")
    got = _run(
        """
        spark = build_session(cpus=2)
        print(json.dumps({"probe": spark.conf.get("spark.cor.probe"),
                          "option": vm_option(spark, "SharedArchiveFile")}))
        spark.stop()
        """,
        tmp_path,
        SPARK_CONF_DIR=str(conf),
    )
    assert got == {"probe": "x", "option": ""}
    assert not (tmp_path / "cor_asv_ann_spark").exists()
