"""spark-submit entry point for the correction pipeline.

Cluster usage (north rule: ships via --py-files to multi-executor
clusters at N and 4N executors):

    zip -r corasv.zip cor_asv_ann_spark/
    JIT="$(python3 -c 'from cor_asv_ann_spark.session import DRIVER_JIT_OPTIONS as o; print(o)')"
    spark-submit --py-files corasv.zip --driver-java-options "$JIT" \
        jobs/run_correction.py \
        --input <spans table/path> --output <dir> \
        --lineage <dir> --run-id r1 --buckets 64 [--model weights.npz]

spark-submit starts the driver JVM before this script builds its
session, so ``session.DRIVER_JIT_OPTIONS`` (delayed C2, see the
``session`` module docstring) reaches it only through
``--driver-java-options``. Such a JVM gets the JIT options but not the
class-data-sharing archive ``build_session`` starts its own driver JVM
from, so it pays the full cold class loading (about 4 s more set-up on
4 cores than ``python jobs/run_correction.py``).

Local smoke:

    python jobs/run_correction.py --sf-dir /root/testdata/sf0.001 \
        --output /tmp/out --lineage /tmp/lineage --run-id smoke
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")  # --py-files puts the package on the path in cluster mode


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="spans parquet/Iceberg path")
    ap.add_argument("--pagexml-in",
                    help="PAGE-XML workspace (dir or glob) as input instead "
                         "of a spans table — the reference processor's own "
                         "input format (sources/pagexml.py ingest)")
    ap.add_argument("--level", default="word", choices=["line", "word", "glyph"],
                    help="hierarchy grain for --pagexml-in "
                         "(reference textequiv_level)")
    ap.add_argument("--on-error", default="fail", choices=["fail", "skip"],
                    help="with --pagexml-in: 'skip' keeps the job alive "
                         "on malformed page files (each stays visible as "
                         "a spanless doc); default fails loudly")
    ap.add_argument("--confmat", action="store_true",
                    help="with --pagexml-in: feed multi-TextEquiv "
                         "alternatives through the confusion-network "
                         "channel (encoding 3 — the reference flagship's "
                         "input; argmax rule corrector without --model, "
                         "model confmat decode with it)")
    ap.add_argument("--sf-dir", help="synthesize noisy spans from this testdata dir")
    ap.add_argument("--output", required=True)
    ap.add_argument("--pagexml-out",
                    help="also write corrected PAGE-XML files to this dir "
                         "(the reference processor's output format)")
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument(
        "--model",
        help="model weights: .h5 (the reference's Keras save format) or "
        ".npz (default: rule corrector)",
    )
    ap.add_argument("--beam", action="store_true", help="beam decode (slow path)")
    ap.add_argument("--charmap", default=None,
                    help="JSON charmap applied to input characters before "
                         "correction (the processor's `charmap` parameter; "
                         "single-pass str.maketrans, transcode.py:249-260)")
    ap.add_argument("--rejection-threshold", type=float, default=0.5,
                    help="beam: min probability of the input character "
                         "(reference default 0.5)")
    ap.add_argument("--relative-beam-width", type=float, default=0.2,
                    help="beam: min fraction of the best candidate's "
                         "probability to enter the beam")
    ap.add_argument("--fixed-beam-width", type=int, default=15,
                    help="beam: max candidates per hypothesis")
    ap.add_argument("--cpus", type=int, default=None, help="local-mode cores")
    ap.add_argument("--mets",
                    help="OCR-D workspace mets.xml: resolves -I to page "
                         "files (instead of --pagexml-in) and registers "
                         "-O as the corrected output fileGrp (instead of "
                         "--pagexml-out) — the processor's own workspace "
                         "contract")
    ap.add_argument("-I", "--input-file-grp")
    ap.add_argument("-O", "--output-file-grp")
    args = ap.parse_args()

    mets_register = None
    if args.mets:
        if not (args.input_file_grp and args.output_file_grp):
            ap.error("--mets needs -I and -O")
        if args.pagexml_in or args.pagexml_out:
            ap.error("--mets replaces --pagexml-in/--pagexml-out")
        from cor_asv_ann_spark.sources.mets import resolve_workspace

        (mets_paths,), mets_out, mets_register, _ = resolve_workspace(
            args.mets, args.input_file_grp, args.output_file_grp
        )
        args.pagexml_in, args.pagexml_out = mets_paths, mets_out

    from cor_asv_ann_spark.checkpoint import read_lineage, run_resumable
    from cor_asv_ann_spark.session import build_session
    from cor_asv_ann_spark.sources.spans import read_spans, synth_spans

    spark = build_session(app=f"correction-{args.run_id}", cpus=args.cpus)
    if args.input:
        spans = read_spans(spark, args.input)
    elif args.pagexml_in:
        from cor_asv_ann_spark.sources.pagexml import (
            read_pagexml,
            read_pagexml_channels,
        )

        if args.confmat:
            spans, _conf, confmat_df = read_pagexml_channels(
                spark, args.pagexml_in, level=args.level,
                on_error=args.on_error)
        else:
            spans = read_pagexml(spark, args.pagexml_in, level=args.level,
                                 on_error=args.on_error)
    elif args.sf_dir:
        spans = synth_spans(spark, args.sf_dir, noisy=True)
    else:
        ap.error("one of --input / --pagexml-in / --sf-dir is required")

    if args.confmat and not args.pagexml_in:
        ap.error("--confmat requires --pagexml-in (the alternatives come "
                 "from multi-TextEquiv page files)")
    if args.confmat and args.input:
        # spans came from the --input branch above: the confmat channel
        # was never read, so silently proceeding would either NameError
        # or drop the requested channel — refuse loudly instead
        ap.error("--confmat cannot be combined with --input (the confmat "
                 "channel is read from the PAGE-XML input)")
    if args.confmat and args.beam:
        print("warning: --confmat is ignored with --beam (the beam path "
              "decodes the nominal text only); dropping the confmat "
              "channel", file=sys.stderr)
    if args.charmap and not args.model:
        print("warning: --charmap applies inside the MODEL corrector "
              "(transcode.py charmap parameter); the rule/confmat-argmax "
              "paths ignore it", file=sys.stderr)
    use_confmat = bool(args.confmat and args.pagexml_in and not args.beam)
    corrector = None
    if args.model:
        from cor_asv_ann_spark.model.corrector import make_model_corrector

        if args.model.endswith(".h5"):
            from cor_asv_ann_spark.model.keras_graph import RefSeq2Seq

            model = RefSeq2Seq.load_h5(args.model)
        else:
            from cor_asv_ann_spark.model.seq2seq_np import Seq2SeqModel

            model = Seq2SeqModel.load_npz(args.model)
        corrector = make_model_corrector(
            spark, model, beam=args.beam,
            rejection_threshold=args.rejection_threshold,
            beam_width_in=args.fixed_beam_width,
            beam_threshold=args.relative_beam_width,
            charmap=json.loads(args.charmap) if args.charmap else None,
            use_confmat=use_confmat and not args.beam)
    elif use_confmat:
        from cor_asv_ann_spark.operators.correction import (
            confmat_argmax_corrector,
        )

        corrector = confmat_argmax_corrector

    stateful_docs = None
    if args.model and getattr(model, "stateful", False) and not args.beam:
        # h5 config stateful=True: route through the doc-sequential path
        # (decoder state carried across a document's lines)
        from cor_asv_ann_spark.model.corrector import make_stateful_doc_corrector

        stateful_docs = make_stateful_doc_corrector(
            spark, model,
            charmap=json.loads(args.charmap) if args.charmap else None)
        corrector = None

    summary = run_resumable(
        spark,
        spans,
        args.output,
        args.lineage,
        args.run_id,
        n_buckets=args.buckets,
        corrector=corrector,
        stateful_correct_docs=stateful_docs,
        confmat_df=confmat_df if use_confmat else None,
    )
    if args.pagexml_out:
        from cor_asv_ann_spark.sources.pagexml import write_pagexml_corpus

        # plain parquet read (not read_spans' fixed schema): keeps the
        # span_confs column so model confidences reach TextEquiv/@conf
        summary["pagexml_out"] = write_pagexml_corpus(
            spark.read.parquet(args.output), args.pagexml_out)
        if mets_register is not None:
            import glob as _glob

            summary["mets_registered"] = mets_register(
                _glob.glob(f"{args.pagexml_out}/*.xml"))
    import pyarrow.compute as pc

    m = read_lineage(args.lineage, args.run_id, ["n_docs", "n_lines", "wall_sec", "cer"])
    docs, lines, wall = (pc.sum(m[c]).as_py() for c in ("n_docs", "n_lines", "wall_sec"))
    cer = pc.mean(m["cer"]).as_py()  # nulls skipped
    summary.update(
        n_docs=int(docs or 0),
        n_lines=int(lines or 0),
        wall_sec=round(float(wall or 0), 2),
        docs_per_sec=round((docs or 0) / wall, 1) if wall else None,
        mean_cer=round(float(cer), 6) if cer is not None else None,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
