"""Reproducibly (re)generate the committed trained-model fixtures.

The pairs are the reversible historic-glyph noise from the synthetic
spans corpus (sf0.001, docs < 300, line length <= 45, first 200 lines
— largely disjoint from the eval subset test_trained_model.py uses,
docs >= 300). Training is the plain local full-batch Adam loop with
reference-style early stopping on a held-out tail.

    python tools/train_fixture.py --out tests/fixtures/trained_w64_d2.npz \
        --width 64 --depth 2 [--epochs 400] [--lr 5e-3]
"""

from __future__ import annotations

import argparse
import difflib
import sys

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--width", type=int, default=64)
    ap.add_argument("--depth", type=int, default=2)
    ap.add_argument("--epochs", type=int, default=400)
    ap.add_argument("--lr", type=float, default=5e-3)
    ap.add_argument("--n-pairs", type=int, default=200)
    ap.add_argument("--patience", type=int, default=25)
    ap.add_argument("--scheduled-sampling", choices=["linear", "sigmoid", "exponential"],
                    default=None,
                    help="mitigates exposure bias: teacher-forced loss can "
                         "collapse while free-running decode degrades")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from cor_asv_ann_spark.model.seq2seq_np import Seq2SeqModel, make_vocab
    from cor_asv_ann_spark.model.train_np import train_local
    from cor_asv_ann_spark.operators.correction import lines_of
    from cor_asv_ann_spark.session import build_session
    from cor_asv_ann_spark.sources.spans import synth_spans

    spark = build_session(app="train_fixture", cpus=8, shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"
    g = lines_of(synth_spans(spark, sf, noisy=False)).withColumnRenamed("line_text", "gt")
    n = lines_of(synth_spans(spark, sf, noisy=True)).withColumnRenamed("line_text", "ocr")
    j = (
        g.join(n, ["doc_id", "line_no"])
        .filter((F.length("gt") <= 45) & (F.col("doc_id").cast("int") < 300))
        .orderBy("doc_id", "line_no")
        .limit(args.n_pairs)
    )
    rows = j.collect()
    spark.stop()
    pairs = [(r.ocr, r.gt) for r in rows]
    n_val = max(len(pairs) // 10, 1)
    train_pairs, val_pairs = pairs[:-n_val], pairs[-n_val:]

    chars = {c for s, t in pairs for c in s + t}
    model = Seq2SeqModel(make_vocab(chars), width=args.width, depth=args.depth, seed=42)
    losses = train_local(
        model, train_pairs, epochs=args.epochs, lr=args.lr,
        val_pairs=val_pairs, patience=args.patience,
        scheduled_sampling=args.scheduled_sampling,
    )
    model.save_npz(args.out)

    srcs = [s for s, _ in val_pairs]
    tgts = [t for _, t in val_pairs]
    outs, _, _ = model.decode_greedy_batch([s + "\n" for s in srcs])

    def cer(a, b):
        return 1 - difflib.SequenceMatcher(None, a, b).ratio()

    base = sum(cer(s, t) for s, t in zip(srcs, tgts)) / len(tgts)
    after = sum(cer(o.rstrip("\n"), t) for o, t in zip(outs, tgts)) / len(tgts)
    print(
        f"epochs_run={len(losses)} val_loss first={losses[0]:.4f} "
        f"best={min(losses):.4f} last={losses[-1]:.4f} "
        f"val CER noisy={base:.4f} greedy={after:.4f} -> {args.out}"
    )


if __name__ == "__main__":
    main()
