"""spark-submit entry mirroring `ocrd-cor-asv-ann-mark` (the
reference's spellcheck-marking processor, wrapper/mark.py:32-140 +
ocrd-tool.json `ocrd-cor-asv-ann-mark`): PAGE-XML workspace in →
IV/OOV marking against a hunspell dictionary → PAGE-XML out with
unknown words marked.

    python jobs/run_mark.py --pagexml-in pages/ --pagexml-out marked/ \
        --dict de.dic [--aff de.aff] [--format conf|<comment-string>] \
        [--normalization '{"ſ": "s"}'] [--cpus 8] [--on-error fail|skip]

Parity with the reference parameters:
  * `command` (external hunspell) → `--dict`/`--aff`: no shelling out —
    the .dic/.aff is expanded distributed (SFX/PFX incl. two-fold) and
    COMPOUND*/ICONV acceptance runs as the split-DP rescue inside
    mark_words, so German compounds are accepted like hunspell would.
    A plain wordlist file works too.
  * `normalization` → `--normalization` JSON charmap, applied by
    SEQUENTIAL replace before the Letter/Mark strip exactly like
    `asword` (wrapper/mark.py:59-69).
  * `format` → `--format`: 'conf' writes TextEquiv/@conf=0.123 on
    unknown words, any other value lands in TextEquiv/@comments
    (wrapper/mark.py:128-133).
  * dehyphenation retry (wrapper/mark.py:107-124): a line-final
    hyphen-ending word whose rejoined form is accepted is unmarked
    together with its continuation (lag over the doc window).

Spark shape: one PAGE-XML scan (word grain) → broadcast-join marking
(+Arrow DP rescue on the OOV residue) → ONE doc-keyed exchange to zip
the oov flags back onto the span table (array_sort(collect_list)) →
distributed PAGE-XML write. Counters (candidates/nonmatches,
wrapper/mark.py:31-37) are printed as the JSON summary.
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pagexml-in",
                    help="directory of PAGE-XML files (pathGlobFilter "
                         "listing — pass directories, not globs)")
    ap.add_argument("--pagexml-out",
                    help="output directory for marked PAGE-XML")
    ap.add_argument("--mets",
                    help="OCR-D workspace mets.xml (alternative to "
                         "--pagexml-in/--pagexml-out; single -I fileGrp, "
                         "-O registered back into the METS)")
    ap.add_argument("-I", "--input-file-grp")
    ap.add_argument("-O", "--output-file-grp")
    ap.add_argument("--dict", required=True, dest="dict_path",
                    help="hunspell .dic (sibling/explicit .aff expands "
                         "affixes + compounds) or plain wordlist")
    ap.add_argument("--aff", default=None,
                    help="explicit .aff path (default: sibling of --dict)")
    ap.add_argument("--format", default="conf",
                    help="'conf' → @conf=0.123 on unknown words; any "
                         "other value → @comments=<value>")
    ap.add_argument("--normalization", default=None,
                    help="JSON charmap applied before spellcheck "
                         "(sequential replace, like the reference)")
    ap.add_argument("--on-error", default="fail", choices=["fail", "skip"])
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    register = None
    if args.mets:
        if not (args.input_file_grp and args.output_file_grp):
            ap.error("--mets needs -I and -O")
        from cor_asv_ann_spark.sources.mets import resolve_workspace

        (in_paths,), out_dir, register, _ = resolve_workspace(
            args.mets, args.input_file_grp, args.output_file_grp
        )
    elif args.pagexml_in and args.pagexml_out:
        in_paths, out_dir = args.pagexml_in, args.pagexml_out
    else:
        ap.error("need --pagexml-in + --pagexml-out, or --mets with -I/-O")

    charmap = json.loads(args.normalization) if args.normalization else None

    from pyspark.sql import functions as F

    from cor_asv_ann_spark.operators.mark import (
        dehyphenate_recheck,
        lexicon_and_compound,
        mark_counters,
        mark_words,
        words_from_spans,
    )
    from cor_asv_ann_spark.session import build_session
    from cor_asv_ann_spark.sources.pagexml import (
        read_pagexml_full,
        spans_of,
        write_pagexml_corpus,
    )

    spark = build_session(app="mark", cpus=args.cpus)
    full = read_pagexml_full(
        spark, in_paths, level="word", on_error=args.on_error
    ).cache()
    spans_df = spans_of(full)
    # one expansion job feeds both the join lexicon and the compound DP
    lex, comp = lexicon_and_compound(spark, args.dict_path, aff_path=args.aff)

    words = words_from_spans(spans_df)
    marked = mark_words(words, lex, compound=comp, charmap=charmap)
    rechecked = dehyphenate_recheck(marked, lex, compound=comp, charmap=charmap)

    # zip oov flags back onto the span table: offsets are unique per
    # doc, so one broadcast-free equi-join on (doc_id, offset) + the
    # doc-keyed reassembly exchange (same class as the correction
    # pipeline's W2 collect_list)
    flat = spans_df.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.*"
    )
    # original per-span confidences ride along so IV words keep their
    # input @conf (the reference only touches UNKNOWN words,
    # wrapper/mark.py:128-133)
    orig_conf = full.select(
        "doc_id",
        F.explode(F.arrays_zip("spans", "span_confs")).alias("z"),
    ).select(
        "doc_id",
        F.col("z.spans.offset").alias("offset"),
        F.col("z.span_confs").alias("orig_conf"),
    )
    oov = rechecked.select(
        "doc_id", "offset", F.col("oov").alias("is_oov")
    )
    flat2 = (
        flat.join(oov, ["doc_id", "offset"], "left")
        .withColumn("is_oov", F.coalesce("is_oov", F.lit(False)))
        .join(orig_conf, ["doc_id", "offset"], "left")
        .withColumn("orig_conf", F.coalesce("orig_conf", F.lit(1.0)))
    )
    is_conf = args.format == "conf"
    agg = flat2.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "offset", "kind", "text", "media_ref", "is_oov",
                    "orig_conf",
                )
            )
        ).alias("a")
    )
    out = agg.select(
        "doc_id",
        F.transform(
            "a",
            lambda x: F.struct(
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
                x["offset"].alias("offset"),
            ),
        ).alias("spans"),
        F.transform(
            "a",
            lambda x: F.when(x["is_oov"] & F.lit(is_conf), F.lit(0.123))
            .otherwise(x["orig_conf"])
            .cast("float"),
        ).alias("span_confs"),
        F.transform(
            "a",
            lambda x: F.when(
                x["is_oov"] & F.lit(not is_conf), F.lit(args.format)
            ),
        ).alias("span_comments"),
    )
    n_files = write_pagexml_corpus(out, out_dir)
    if register is not None:
        import glob as _glob

        register(_glob.glob(f"{out_dir}/*.xml"))
    counters = mark_counters(rechecked).collect()[0]
    print(json.dumps({
        "files": n_files,
        "candidates": counters.n_words,
        "nonmatches": counters.n_oov,
        "oov_rate": counters.oov_rate,
        "format": args.format,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
