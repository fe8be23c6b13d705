"""The repository's benchmark: one command for every workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It generates the workload's inputs
from the seed (untimed), then runs a closed loop with one client: one
fresh job process (``job.py``) at a time, each a cold Spark application
as a spark-submit would be, until ``--seconds`` have passed. A job is a
cold Spark application of 25-45 s on 4 cores, so a run usually holds one.
Every job's output is checked against the generator's clean data or a
DuckDB oracle before the next one starts.

With ``--trace 0`` the last line carries the bounded end-to-end metrics
(``setup_s``, ``cpu_s_per_kdoc``), each the median over the jobs. With
``--trace 1`` the jobs are traced and it carries the per-layer metrics
instead; ``trace.wall_s`` is the traced jobs' ``wall_s``, so the tracing
overhead is its difference to the untraced runs' ``wall_s``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it is the full report: the bounded metrics plus
``wall_s``, ``docs_per_s``, ``peak_rss_mb``, ``error_rate`` and the
output-quality shares, the host load and steal next to each job and the
per-job samples. ``wall_s`` and ``docs_per_s`` carry no bound: a cold
job's wall time follows the CPU the hypervisor steals from this host,
which drifts over minutes (see BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import procfs  # noqa: E402

# documents (pages) per workload input
DOCS = {
    "pagexml_job_rule": 80,
    "spans_model_greedy": 300,
    "curate_neardup_lm": 600,
}
JOB_TIMEOUT_S = 150
RUN_BUDGET_S = 170  # a run must end well within 180 s
CURATE_QUERIES = ["dedup_exact", "minhash_lsh_pairs", "dedup_simhash",
                  "embedding_near_dups", "char_lm_counts"]

# the end-to-end metrics of the last line, each with a bound in
# BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_kdoc": "s/kdoc",
}
# end-to-end metrics of the full report only: wall time and throughput
# follow the hypervisor's steal (up to a quarter between runs of the same
# code), and peak RSS follows the JVM's heap growth (up to a third)
REPORTED = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
    "error_rate": "share",
}
PER_LAYER = {
    "session.start_s": "s",
    "python.worker_start_s": "s",
    "pagexml.parse_s": "s",
    "pagexml.arrow_mb_out": "MB",
    "pagexml.parses_per_page": "count",
    "pagexml.write_s": "s",
    "spans.scan_s": "s",
    "correction.assemble_s": "s",
    "correction.reassemble_s": "s",
    "correction.udf_s": "s",
    "correction.arrow_mb_in": "MB",
    "correction.arrow_mb_out": "MB",
    "correction.segment_s": "s",
    "correction.task_skew": "ratio",
    "corrector.call_s": "s",
    "corrector.lines_per_call": "count",
    "corrector.chars_per_s": "chars/s",
    "checkpoint.bucket_s_p50": "s",
    "checkpoint.bucket_s_p90": "s",
    "checkpoint.spark_jobs": "count",
    "checkpoint.lineage_s": "s",
    "checkpoint.out_bytes_per_doc": "B",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.simhash_s": "s",
    "dedup.embedding_s": "s",
    "lm.ngram_s": "s",
    "similarity.candidates": "count",
    "similarity.verified": "count",
    "similarity.verify_yield": "share",
    "similarity.verify_py_s": "s",
    "similarity.rows_dropped": "count",
    "exchange.mb": "MB",
    "exchange.spill_mb": "MB",
    "jvm.gc_s": "s",
    "trace.wall_s": "s",
}


class Checker:
    """Checks one job's output; the reference side is computed once per run."""

    def __init__(self, workload: str, inputs: str):
        self.workload, self.inputs = workload, inputs
        if workload == "spans_model_greedy":
            self.cer_noisy = checks.mean_cer(f"{inputs}/spans_clean.parquet",
                                             f"{inputs}/spans_noisy.parquet")
        elif workload == "curate_neardup_lm":
            self.oracle = checks.oracle_rows(inputs, CURATE_QUERIES)

    def __call__(self, out: str) -> tuple[bool, dict]:
        """(passed, quality metrics) for the output under ``out``."""
        if self.workload == "pagexml_job_rule":
            exact = checks.span_seq_exact(f"{self.inputs}/pages_clean", f"{out}/pages")
            return exact == 1.0, {"span_seq_exact": exact}
        if self.workload == "spans_model_greedy":
            clean = f"{self.inputs}/spans_clean.parquet"
            cer = checks.mean_cer(clean, f"{out}/corrected")
            same = checks.spans_skeleton_same(clean, f"{out}/corrected")
            ok = same and cer < self.cer_noisy
            return ok, {"cer_after": cer, "cer_noisy": self.cer_noisy}
        match = checks.pairs_match_oracle(f"{out}/results.json", self.oracle)
        return match == 1.0, {"pairs_match_oracle": match}


def _group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` still runs (zombies do not)."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = procfs.stat_fields(int(name))
            if fields is not None and int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(pgid: int) -> None:
    """Stop every process left in the job's process group (the JVM and
    Python workers outlive the job's driver) and wait until all ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + wait_s
        while _group_alive(pgid):
            if time.monotonic() > deadline:
                break
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.1)
        else:
            return


def run_job(workload: str, inputs: str, out: str, docs: int, traced: bool,
            timeout_s: float) -> dict:
    """One fresh job process; its measurements plus peak tree RSS."""
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temporary file of the job (Spark local dirs, JVM and
    # Python temp files) inside the job's directory
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    result = os.path.join(out, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "job.py"), "--workload", workload,
           "--inputs", inputs, "--out", out, "--result", result, "--docs", str(docs)]
    if traced:
        cmd.append("--trace")
    load, probe = os.getloadavg()[0], procfs.probe_ms()
    with open(os.path.join(out, "job.log"), "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            with procfs.RssSampler(proc.pid) as rss:
                proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(out, "job.log"), errors="replace") as f:
            sys.stderr.write(f"job failed ({proc.returncode}):\n{f.read()[-3000:]}\n")
        return {"ok": False, "load_avg_1m": load, "probe_ms": probe}
    with open(result) as f:
        res = json.load(f)
    res.update(ok=True, traced=traced, load_avg_1m=load, probe_ms=probe,
               peak_rss_mb=rss.peak / 1e6)
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(DOCS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, help="input size (default: the workload's)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cor_asv_ann_spark", "__init__.py")):
        print("perfbench: run from the root of a cor_asv_ann_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)  # the oracle queries live in the checkout
    started = time.monotonic()
    docs = args.docs or DOCS[args.workload]
    work = os.path.join(root, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    try:
        gen.generate(inputs, args.workload, args.seed, docs)
        check = Checker(args.workload, inputs)
        jobs: list[dict] = []
        loop_start = time.monotonic()
        while True:
            left = RUN_BUDGET_S - (time.monotonic() - started)
            out = os.path.join(work, f"job{len(jobs)}")
            t0 = time.monotonic()
            job = run_job(args.workload, inputs, out, docs, bool(args.trace),
                          min(JOB_TIMEOUT_S, left))
            if job["ok"]:
                try:
                    job["check_ok"], job["quality"] = check(out)
                except Exception as exc:  # an unreadable output fails its check
                    sys.stderr.write(f"check failed: {exc!r}\n")
                    job["check_ok"] = False
            job["job_s"] = time.monotonic() - t0
            spans = os.path.join(out, "trace_spans.json")
            if os.path.exists(spans):  # keep the traced job's spans
                traces = os.path.join(root, ".perfbench", "traces")
                os.makedirs(traces, exist_ok=True)
                shutil.copy(spans, os.path.join(
                    traces, f"{args.workload}-s{args.seed}-job{len(jobs)}.json"))
            jobs.append(job)
            shutil.rmtree(out, ignore_errors=True)
            longest = max(j["job_s"] for j in jobs)
            left = RUN_BUDGET_S - (time.monotonic() - started)
            if time.monotonic() - loop_start >= args.seconds or left < 1.5 * longest:
                break
        report = summarize(args, docs, jobs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report["full"]))
    print(json.dumps(report["result"]))
    return 0


def _median(jobs: list[dict], key) -> float:
    vals = [key(j) for j in jobs]
    return statistics.median(vals) if vals else 0.0


def summarize(args, docs: int, jobs: list[dict]) -> dict:
    good = [j for j in jobs if j["ok"] and j["check_ok"]]
    failed = len(jobs) - len(good)
    e2e = {
        "setup_s": _median(good, lambda j: j["setup_s"]),
        "wall_s": _median(good, lambda j: j["wall_s"]),
        "docs_per_s": _median(good, lambda j: docs / j["wall_s"]),
        "cpu_s_per_kdoc": _median(good, lambda j: 1000 * j["cpu_s"] / docs),
        "peak_rss_mb": _median(good, lambda j: j["peak_rss_mb"]),
        "error_rate": failed / len(jobs),
    }
    if args.trace:
        layers = {k: _median(good, lambda j, k=k: j["layers"].get(k, 0.0)) for k in PER_LAYER}
        layers["trace.wall_s"] = e2e["wall_s"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    quality = {}
    for j in good:
        for k, v in j["quality"].items():
            quality.setdefault(k, []).append(v)
    full = {
        "workload": args.workload, "seed": args.seed, "docs": docs,
        "cpus": len(os.sched_getaffinity(0)), "traced": bool(args.trace),
        "samples": len(good),
        "metrics": {
            **{k: {"value": e2e[k], "unit": u} for k, u in {**END_TO_END, **REPORTED}.items()},
            **{k: {"value": statistics.median(v), "unit": "share"} for k, v in quality.items()},
            **(metrics if args.trace else {}),
        },
        "load_avg_1m": [round(j["load_avg_1m"], 2) for j in jobs],
        "probe_ms": [round(j["probe_ms"], 1) for j in jobs],
        "steal_cores": [round(j.get("steal_cores", 0.0), 3) for j in jobs],
        # another process here kept half a core busy, the hypervisor took
        # a tenth of a core (which slows a cold job by about a tenth), or
        # other tenants of the machine slowed the probe loop by a third
        "contended": any(j.get("other_cores", 0.0) > 0.5 or j.get("steal_cores", 0.0) > 0.1
                         or j["probe_ms"] > 1.33 * procfs.PROBE_IDLE_MS for j in jobs),
        "jobs": [{k: v for k, v in j.items() if k != "layers"} for j in jobs],
    }
    result = {"correct": failed == 0 and bool(good), "attempted": len(jobs), "failed": failed,
              "metrics": metrics}
    return {"full": full, "result": result}


if __name__ == "__main__":
    sys.exit(main())
