"""One benchmark job: a fresh process that starts Spark, runs one
workload once, cold, and writes what it measured as JSON.

    python3 perfbench/job.py --workload NAME --inputs DIR --out DIR \
        --result FILE [--trace]

Run from the root of a checkout (the package is imported from there).
``run.py`` starts one of these per sample, so every sample pays the cold
start a real spark-submit pays: JVM launch, Python worker start and JIT
warm-up. Set-up (``setup_s``) is ``build_session`` through the first
finished Spark job plus the model broadcast; the timed region
(``wall_s``) runs from the first layer call until the complete result is
written or collected.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.getcwd())
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import procfs  # noqa: E402
import layertrace as tr  # noqa: E402

MODEL = "tests/fixtures/trained_w64_d2.npz"
N_BUCKETS = 8  # jobs/run_correction.py's default --buckets
# curate queries of __spark_entry__ and the per-layer span each is timed as
CURATE = (
    ("dedup_exact", "dedup.exact_s"),
    ("minhash_lsh_pairs", "dedup.minhash_s"),
    ("dedup_simhash", "dedup.simhash_s"),
    ("embedding_near_dups", "dedup.embedding_s"),
    ("char_lm_counts", "lm.ngram_s"),
)


def counted(fn, spark):
    """Wrap a corrector callable so each call adds its time, line and
    character counts to driver-side accumulators."""
    sc = spark.sparkContext
    accs = {k: sc.accumulator(0.0) for k in ("calls", "lines", "chars", "secs")}

    @functools.wraps(fn)
    def corrector(texts, *rest):
        t0 = time.perf_counter()
        res = fn(texts, *rest)
        accs["secs"].add(time.perf_counter() - t0)
        accs["calls"].add(1)
        accs["lines"].add(len(texts))
        accs["chars"].add(float(texts.str.len().sum()))
        return res

    return corrector, accs


def noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


class PagexmlJobRule:
    """jobs/run_correction.py --pagexml-in ... --pagexml-out ...: PAGE-XML
    parse → resumable per-bucket correction with the rule corrector →
    parquet + lineage → corrected PAGE-XML."""

    def setup(self, spark, inputs, tracer):
        self.corrector = None  # the job's default: the charmap rule corrector
        if tracer.enabled:
            from cor_asv_ann_spark.operators.correction import charmap_corrector

            self.corrector, self.accs = counted(charmap_corrector, spark)

    def run(self, spark, inputs, out, tracer) -> None:
        from pyspark.sql import functions as F

        from cor_asv_ann_spark import checkpoint
        from cor_asv_ann_spark.sources import pagexml

        spans = pagexml.read_pagexml(spark, f"{inputs}/pages_noisy", level="word",
                                     on_error="fail")
        checkpoint.run_resumable(spark, spans, f"{out}/corrected", f"{out}/lineage",
                                 "bench", n_buckets=N_BUCKETS, corrector=self.corrector)
        pagexml.write_pagexml_corpus(spark.read.parquet(f"{out}/corrected"),
                                     f"{out}/pages")
        # the job's closing summary read of its lineage table
        spark.read.parquet(f"{out}/lineage").agg(F.sum("n_docs"), F.sum("wall_sec")).collect()

    def layers(self, spark, inputs, out, tracer, execs, stage_list, docs) -> dict:
        import pyarrow.parquet as pq

        from cor_asv_ann_spark.operators import correction
        from cor_asv_ann_spark.sources import pagexml

        in_write = tracer.window("pagexml.write_pagexml_corpus")

        def job_exec(ex):  # the correction job, not the PAGE-XML sink
            return not (in_write and in_write[0] <= ex["submitted"] <= in_write[1])

        walls = sorted(pq.read_table(f"{out}/lineage").column("wall_sec").to_pylist())
        parsed = pagexml.read_pagexml(spark, f"{inputs}/pages_noisy", level="word").persist()
        parsed.count()
        lines = correction.assemble_lines(correction.spans_with_line_no(parsed))
        assemble_s = noop_s(lines)
        corrected = correction.correct_lines(lines).persist()
        corrected.count()
        reassemble_s = noop_s(correction.reassemble(corrected, with_confs=True))
        job = tracer.window("checkpoint.run_resumable")
        return {
            "pagexml.parse_s": tr.node_sum(execs, "MapInArrow", "time to run Python workers"),
            "pagexml.arrow_mb_out": tr.node_sum(execs, "MapInArrow", "data returned from Python workers"),
            "pagexml.parses_per_page": tr.node_sum(execs, "MapInArrow", "number of output rows") / docs,
            "pagexml.write_s": tracer.seconds("pagexml.write_pagexml_corpus"),
            "correction.assemble_s": assemble_s,
            "correction.reassemble_s": reassemble_s,
            **udf_layers(execs, stage_list, self.accs, job_exec),
            "checkpoint.bucket_s_p50": statistics.median(walls),
            "checkpoint.bucket_s_p90": walls[min(len(walls) - 1, int(0.9 * len(walls)))],
            "checkpoint.spark_jobs": float(tr.jobs_between(spark, *job)),
            "checkpoint.lineage_s": tracer.seconds("checkpoint.completed_buckets")
            + tracer.seconds("checkpoint.append_lineage_row"),
            "checkpoint.out_bytes_per_doc": dir_bytes(f"{out}/corrected") / docs,
        }


class SpansModelGreedy:
    """correct_pipeline over the noisy span table, greedy decode by the
    committed trained model, written as parquet."""

    def setup(self, spark, inputs, tracer):
        from cor_asv_ann_spark.model import corrector as model_corrector
        from cor_asv_ann_spark.model.seq2seq_np import Seq2SeqModel

        model = Seq2SeqModel.load_npz(MODEL)
        self.corrector = model_corrector.make_model_corrector(spark, model)
        if tracer.enabled:
            self.corrector, self.accs = counted(self.corrector, spark)

    def run(self, spark, inputs, out, tracer) -> None:
        from cor_asv_ann_spark.operators import correction
        from cor_asv_ann_spark.sources import spans

        noisy = spans.read_spans(spark, f"{inputs}/spans_noisy.parquet")
        out_df = correction.correct_pipeline(noisy, corrector=self.corrector)
        with tracer.span("sink.write_parquet"):
            out_df.write.mode("overwrite").parquet(f"{out}/corrected")

    def layers(self, spark, inputs, out, tracer, execs, stage_list, docs) -> dict:
        from cor_asv_ann_spark.operators import correction
        from cor_asv_ann_spark.sources import spans

        noisy = spans.read_spans(spark, f"{inputs}/spans_noisy.parquet")
        lines = correction.lines_from_span_arrays(noisy)
        assemble_s = noop_s(lines)
        corrected = correction.correct_lines(lines).persist()
        corrected.count()
        return {
            "spans.scan_s": tr.node_sum(execs, "Scan parquet", "scan time"),
            "correction.assemble_s": assemble_s,
            "correction.reassemble_s": noop_s(correction.reassemble(corrected)),
            **udf_layers(execs, stage_list, self.accs),
        }


class CurateNeardupLm:
    """The training-data side: the declared exact-dedup, minhash LSH,
    simhash, embedding near-dup and char n-gram LM queries, collected."""

    def setup(self, spark, inputs, tracer):
        from pyspark.sql import Observation

        from cor_asv_ann_spark.operators import dedup, similarity

        self.minhash_obs = None
        if tracer.enabled:
            # the minhash query passes no Observation: give its cap one
            def observe(args, kwargs):
                if len(args) > 5 and args[5] is None:
                    self.minhash_obs = Observation()
                    args = (*args[:5], self.minhash_obs, *args[6:])
                elif len(args) <= 5 and kwargs.get("observation") is None:
                    self.minhash_obs = kwargs["observation"] = Observation()
                return args, kwargs

            tracer.wrap(dedup, "lsh_candidates", "dedup.lsh_candidates", capture=True,
                        before=observe)
            tracer.wrap(similarity, "bucket_pairs_nodup", "similarity.bucket_pairs_nodup",
                        capture=True)

    def run(self, spark, inputs, out, tracer) -> None:
        import __spark_entry__ as entry

        queries = entry.queries()
        results = {}
        for name, span in CURATE:
            with tracer.span(span):
                results[name] = [list(r) for r in queries[name](spark, inputs).collect()]
        self.results = results
        self.observations = dict(entry.OBSERVATIONS)
        with open(f"{out}/results.json", "w") as f:
            json.dump(results, f, default=str)

    def layers(self, spark, inputs, out, tracer, execs, stage_list, docs) -> dict:
        cands = sum(df.count() for k in ("dedup.lsh_candidates", "similarity.bucket_pairs_nodup")
                    for df in tracer.captured.get(k, ()))
        verified = len(self.results["minhash_lsh_pairs"]) + len(self.results["dedup_simhash"])
        dropped = 0
        for obs in (self.observations.get("embedding_near_dups"), self.minhash_obs):
            if obs is not None:
                dropped += int(obs.get.get("rows_dropped") or 0)
        emb = tracer.window("dedup.embedding_s")

        def in_emb(ex):
            return emb is not None and emb[0] <= ex["submitted"] <= emb[1]

        return {
            **{span: tracer.seconds(span) for _, span in CURATE},
            "similarity.candidates": float(cands),
            "similarity.verified": float(verified),
            "similarity.verify_yield": verified / cands if cands else 0.0,
            # the embedding query's fused pair + cosine verify kernel
            "similarity.verify_py_s": tr.node_sum(execs, "MapInArrow",
                                                  "time to run Python workers", in_emb),
            "similarity.rows_dropped": float(dropped),
        }


def udf_layers(execs, stage_list, accs, keep=lambda ex: True) -> dict:
    udf_s = tr.node_sum(execs, "MapInPandas", "time to run Python workers", keep)
    call_s = accs["secs"].value
    return {
        "correction.udf_s": udf_s,
        "correction.arrow_mb_in": tr.node_sum(execs, "MapInPandas", "data sent to Python workers", keep),
        "correction.arrow_mb_out": tr.node_sum(execs, "MapInPandas", "data returned from Python workers", keep),
        "correction.segment_s": udf_s - call_s,
        "correction.task_skew": tr.task_skew(stage_list, "MapInPandas"),
        "corrector.call_s": call_s,
        "corrector.lines_per_call": accs["lines"].value / max(accs["calls"].value, 1),
        "corrector.chars_per_s": accs["chars"].value / call_s if call_s else 0.0,
    }


WORKLOADS = {
    "pagexml_job_rule": PagexmlJobRule,
    "spans_model_greedy": SpansModelGreedy,
    "curate_neardup_lm": CurateNeardupLm,
}


def wrap_layers(tracer) -> None:
    """Spans around the public functions of every layer the workloads use."""
    from cor_asv_ann_spark import checkpoint, session
    from cor_asv_ann_spark.operators import correction, dedup, lm
    from cor_asv_ann_spark.sources import pagexml, spans

    for module, prefix, names in (
        (session, "session", ["build_session"]),
        (pagexml, "pagexml", ["read_pagexml", "write_pagexml_corpus"]),
        (spans, "spans", ["read_spans"]),
        (correction, "correction", ["spans_with_line_no", "assemble_lines",
                                    "lines_from_span_arrays", "correct_lines",
                                    "reassemble", "correct_pipeline"]),
        (checkpoint, "checkpoint", ["run_resumable", "completed_buckets",
                                    "append_lineage_row"]),
        (dedup, "dedup", ["minhash_dedup", "simhash", "simhash_near_pairs",
                          "embedding_near_dups"]),
        (lm, "lm", ["char_ngram_counts"]),
    ):
        for name in names:
            tracer.wrap(module, name, f"{prefix}.{name}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--docs", type=int, required=True, help="documents in the inputs")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from cor_asv_ann_spark import session

    tracer = tr.Tracer(args.trace)
    wrap_layers(tracer)
    work = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    spark = session.build_session(
        app=f"perfbench-{args.workload}",
        cpus=len(os.sched_getaffinity(0)),
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        spark.range(1).count()
        work.setup(spark, args.inputs, tracer)
        setup_s = time.perf_counter() - t0

        cpu0 = procfs.tree_cpu_s(os.getpid())
        t1 = time.perf_counter()
        busy0, steal0 = procfs.host_busy_s(), procfs.host_steal_s()
        with tracer.span("job"):
            work.run(spark, args.inputs, args.out, tracer)
        wall_s = time.perf_counter() - t1
        cpu_s = procfs.tree_cpu_s(os.getpid()) - cpu0
        # cores the hypervisor took from this host, and cores the rest of
        # the host kept busy, while the job ran
        steal_s = procfs.host_steal_s() - steal0
        other_cores = (procfs.host_busy_s() - busy0 - steal_s - cpu_s) / wall_s
        result = {"setup_s": setup_s, "wall_s": wall_s, "cpu_s": cpu_s,
                  "other_cores": max(other_cores, 0.0), "steal_cores": steal_s / wall_s}
        if args.trace:
            tracer.unwrap()
            execs, stage_list = tr.sql_executions(spark), tr.stages(spark)
            result["layers"] = {
                "session.start_s": tracer.seconds("session.build_session"),
                "python.worker_start_s": tr.metric_sum(execs, "time to start Python workers"),
                "exchange.mb": sum(s["shuffle_mb"] for s in stage_list),
                "exchange.spill_mb": sum(s["spill_mb"] for s in stage_list),
                "jvm.gc_s": sum(s["gc_s"] for s in stage_list),
                **work.layers(spark, args.inputs, args.out, tracer, execs, stage_list,
                              args.docs),
            }
            tracer.dump(f"{args.out}/trace_spans.json")
        with open(args.result, "w") as f:
            json.dump(result, f)
    except BaseException:
        spark.stop()
        raise
    # the result is on disk: leave the Spark shutdown to the JVM's own
    # exit hook instead of waiting for it here (run.py waits until the
    # JVM and its Python workers have ended)
    os._exit(0)


if __name__ == "__main__":
    main()
