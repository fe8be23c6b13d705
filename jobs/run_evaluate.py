"""spark-submit entry: evaluate OCR vs GT → JSON report — the
`ocrd-cor-asv-ann-evaluate` / `cor-asv-ann-eval` mirror.

    python jobs/run_evaluate.py --sf-dir /root/testdata/sf0.001 \
        [--metric Levenshtein-fast|adjusted] [--out report.json]

With --gt/--ocr pointing at spans parquet paths, evaluates those
instead of synthesizing from testdata.

With --pagexml-in GT_DIR OCR_DIR [OCR_DIR2 ...] it takes the
reference processor's own input format: the FIRST directory is the
ground-truth fileGrp, every further one an OCR fileGrp evaluated
against it (wrapper/evaluate.py:53-60: first input group = GT,
require_first), lines matched across groups by TextLine @id
(match_on=id, evaluate.py:326-337). With several OCR groups the
report's cer/wer tables carry one row per group (`ocr_grp` = the
directory basename) — the reference's per-pair report sections.
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir")
    ap.add_argument("--gt")
    ap.add_argument("--ocr")
    ap.add_argument("--pagexml-in", nargs="+",
                    help="PAGE-XML directories: first = GT fileGrp, "
                         "rest = OCR fileGrps (evaluate.py:53-60)")
    ap.add_argument("--mets",
                    help="OCR-D workspace mets.xml: with -I, evaluates "
                         "the named fileGrps (first = GT)")
    ap.add_argument("-I", "--input-file-grp",
                    help="comma-separated fileGrps (with --mets)")
    ap.add_argument("--metric", default="Levenshtein-fast",
                    choices=["Levenshtein-fast", "Levenshtein", "NFC",
                             "NFKC", "historic_latin", "adjusted"],
                    help="distance metric (reference evaluate `metric`: "
                         "fast = builtin codepoint Levenshtein, others = "
                         "adjusted alignment with that normalization)")
    ap.add_argument("--gt-level", type=int, default=1, choices=[1, 2, 3],
                    help="with metric=historic_latin: GT transcription "
                         "level for the equivalence sets")
    ap.add_argument("--confusion", type=int, default=10,
                    help="number of most frequent confusions to report "
                         "(reference `confusion` parameter)")
    ap.add_argument("--out")
    ap.add_argument("--match-on", default="id",
                    choices=["id", "coords", "baseline", "index"],
                    help="'id'/'coords'/'baseline': lines matched by "
                         "TextLine @id, Coords/@points, or "
                         "Baseline/@points (Coords fallback) across "
                         "groups (first = GT); 'index': TextEquiv "
                         "alternatives WITHIN one group, @index 0 = GT "
                         "(evaluate.py:53-60, exactly one input then)")
    ap.add_argument("--per-page",
                    help="also write one per-page JSON report per doc "
                         "into this directory (with --mets use -O: the "
                         "reports register as a json fileGrp)")
    ap.add_argument("-O", "--output-file-grp",
                    help="with --mets: fileGrp for the per-page reports")
    ap.add_argument("--on-error", default="fail", choices=["fail", "skip"])
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    if args.pagexml_in is not None and len(args.pagexml_in) < 2 \
            and args.match_on != "index":
        ap.error("--pagexml-in needs a GT directory plus at least one "
                 "OCR directory (or --match-on index with one input)")
    if args.match_on == "index" and args.pagexml_in and len(args.pagexml_in) > 1:
        ap.error("--match-on index takes exactly one input group "
                 "(evaluate.py:55-57)")
    if args.match_on != "id" and not (args.pagexml_in or args.mets):
        ap.error("--match-on needs PAGE-XML input (--pagexml-in/--mets); "
                 "spans tables pair positionally by line_no")
    # metric → adjusted-alignment normalization (one mapping for every
    # input path; 'fast' metrics use the builtin Levenshtein instead)
    norm = (
        None if args.metric in ("Levenshtein-fast", "Levenshtein")
        else ("historic_latin" if args.metric == "adjusted" else args.metric)
    )

    from pyspark.sql import functions as F

    from cor_asv_ann_spark.operators.correction import lines_of
    from cor_asv_ann_spark.operators.report import evaluation_report, report_json
    from cor_asv_ann_spark.session import build_session
    from cor_asv_ann_spark.sources.spans import read_spans, synth_spans

    groups = None  # [(name, paths)] — first = GT
    if args.mets:
        if not args.input_file_grp:
            ap.error("--mets needs -I")
        from cor_asv_ann_spark.sources.mets import resolve_workspace

        paths_per_grp, _, _, page_maps = resolve_workspace(
            args.mets, args.input_file_grp
        )
        names = args.input_file_grp.split(",")
        if len(names) < 2 and args.match_on != "index":
            ap.error("-I needs a GT fileGrp plus at least one OCR fileGrp")
        if len(names) > 1 and args.match_on == "index":
            ap.error("--match-on index takes exactly one fileGrp")
        groups = list(zip(names, paths_per_grp))
    elif args.pagexml_in:
        import os

        groups = [
            (os.path.basename(os.path.normpath(d)) or d, d)
            for d in args.pagexml_in
        ]

    spark = build_session(app="evaluate", cpus=args.cpus)
    if groups:
        from cor_asv_ann_spark.sources.pagexml import (
            alt_table,
            line_table,
            read_pagexml_full,
        )

        def with_page_ids(df, i):
            # METS mode: fileGrps name files after their own FILEIDs,
            # so cross-group matching goes through the structMap
            # physical page ids, not file basenames
            if args.mets:
                from cor_asv_ann_spark.sources.mets import remap_doc_ids

                return remap_doc_ids(df, page_maps[i])
            return df

        if args.match_on == "index":
            # alternatives WITHIN one group: @index 0 = GT, every
            # further index an "OCR" side (evaluate.py:155-160)
            alts = with_page_ids(
                alt_table(
                    read_pagexml_full(
                        spark, groups[0][1], level="line",
                        on_error=args.on_error,
                    )
                ),
                0,
            )
            gt = alts.filter(F.col("alt_index") == 0).select(
                "doc_id", "line_idx", "line_id",
                F.col("text").alias("gt_text"),
            )
            ocr = alts.filter(F.col("alt_index") > 0).select(
                "doc_id", "line_idx",
                F.col("text").alias("ocr_text"),
                F.concat(F.lit("index "), F.col("alt_index")).alias(
                    "ocr_grp"
                ),
            )
            pairs = gt.join(ocr, ["doc_id", "line_idx"])
            multi = True
        else:
            key = {"id": "line_id", "coords": "line_coords",
                   "baseline": "line_baseline"}[args.match_on]
            # empty keys → null: two key-less lines must not cross-pair
            key_col = F.when(F.col(key) != "", F.col(key))
            gt_lines = with_page_ids(
                line_table(
                    read_pagexml_full(
                        spark, groups[0][1], level="line",
                        on_error=args.on_error,
                    )
                ),
                0,
            ).select(
                "doc_id", "line_id", key_col.alias("line_key"),
                F.col("text").alias("gt_text"),
            )
            pairs = None
            multi = len(groups) > 2  # more than one OCR group
            for i, (name, d) in enumerate(groups[1:], 1):
                ocr_lines = with_page_ids(
                    line_table(
                        read_pagexml_full(
                            spark, d, level="line", on_error=args.on_error
                        )
                    ),
                    i,
                ).select(
                    "doc_id", key_col.alias("line_key"),
                    F.col("text").alias("ocr_text"),
                    F.lit(name).alias("ocr_grp"),
                )
                p = gt_lines.join(ocr_lines, ["doc_id", "line_key"])
                pairs = p if pairs is None else pairs.unionByName(p)
        pairs = pairs.filter(F.col("gt_text") != "").select(
            "doc_id", "line_id", "gt_text", "ocr_text", "ocr_grp"
        ).persist()
        report = evaluation_report(
            pairs, metric=args.metric, normalization=norm,
            gt_level=args.gt_level, confusion_k=args.confusion,
            group_col="ocr_grp" if multi else None,
        )
        per_page_dir = args.per_page
        if args.mets and args.output_file_grp:
            import os

            per_page_dir = os.path.join(
                os.path.dirname(os.path.abspath(args.mets)),
                args.output_file_grp,
            )
        if per_page_dir:
            from cor_asv_ann_spark.operators.report import (
                per_page_reports,
                write_page_reports,
            )

            n = write_page_reports(
                per_page_reports(
                    pairs, metric=args.metric, normalization=norm,
                    gt_level=args.gt_level,
                ),
                per_page_dir,
            )
            report["per_page_files"] = n
            if args.mets and args.output_file_grp:
                import glob

                from cor_asv_ann_spark.sources.mets import add_filegrp

                # doc_ids were remapped to physical page ids above, so
                # the report files are named by page id already
                report["mets_registered"] = add_filegrp(
                    args.mets,
                    args.output_file_grp,
                    sorted(glob.glob(f"{per_page_dir}/*.json")),
                    page_ids={
                        pid: pid
                        for pid in page_maps[0].values()
                        if pid
                    },
                    mimetype="application/json",
                )
        pairs.unpersist()
        text = report_json(report)
        if args.out:
            with open(args.out, "w") as f:
                f.write(text)
        print(text[:2000])
        spark.stop()
        return
    if args.gt and args.ocr:
        gt, ocr = read_spans(spark, args.gt), read_spans(spark, args.ocr)
    elif args.sf_dir:
        gt = synth_spans(spark, args.sf_dir, noisy=False)
        ocr = synth_spans(spark, args.sf_dir, noisy=True)
    else:
        ap.error("need --sf-dir or --gt/--ocr")

    pairs = (
        lines_of(gt)
        .withColumnRenamed("line_text", "gt_text")
        .join(
            lines_of(ocr).withColumnRenamed("line_text", "ocr_text"),
            ["doc_id", "line_no"],
        )
        .filter(F.col("gt_text") != "")
        .select(
            "doc_id", F.col("line_no").cast("string").alias("line_id"), "gt_text", "ocr_text"
        )
    )
    report = evaluation_report(
        pairs, metric=args.metric, normalization=norm,
        gt_level=args.gt_level, confusion_k=args.confusion,
    )
    text = report_json(report)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    print(text[:2000])
    spark.stop()


if __name__ == "__main__":
    main()
