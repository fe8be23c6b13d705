"""Learned-charmap corrector: train on half the corpus, correct the
other half exactly (the injected channel is deterministic), plus the
compare_runs operator."""

import pytest
from pyspark.sql import functions as F

from cor_asv_ann_spark.operators.correction import lines_of
from cor_asv_ann_spark.operators.correction import correct_pipeline
from cor_asv_ann_spark.operators.train_charmap import (
    compare_runs,
    learn_confusion_rules,
    make_learned_corrector,
)
from cor_asv_ann_spark.sources.spans import synth_spans


@pytest.fixture(scope="module")
def corpora(spark, sf_small):
    gt = synth_spans(spark, sf_small, noisy=False).cache()
    noisy = synth_spans(spark, sf_small, noisy=True).cache()
    return gt, noisy


def test_learned_rules_recover_channel(spark, corpora):
    gt, noisy = corpora
    train_gt = gt.filter(F.col("doc_id").cast("long") % 2 == 0)
    train_noisy = noisy.filter(F.col("doc_id").cast("long") % 2 == 0)
    pairs = (
        lines_of(train_gt)
        .withColumnRenamed("line_text", "gt_text")
        .join(
            lines_of(train_noisy).withColumnRenamed("line_text", "ocr_text"),
            ["doc_id", "line_no"],
        )
        .filter(F.col("gt_text") != "")
    )
    from cor_asv_ann_spark.operators.train_charmap import learn_confusion_rules_iterative

    rules = learn_confusion_rules(pairs, min_support=5, min_dominance=0.9)
    # the injected channel must be recovered
    assert rules.get("ſ") == "s"
    assert rules.get("ꝛ") == "r"
    assert rules.get("vv") == "w"
    # no identity or spurious dominant rules on common letters
    for ch in "etaoin":
        assert ch not in rules
    # residual rounds recover rules shadowed by composite blocks
    rounds = learn_confusion_rules_iterative(pairs)
    merged = {k: v for r in rounds for k, v in r.items()}
    assert merged.get("aͤ") == "ä"


def test_learned_corrector_end_to_end(spark, corpora):
    gt, noisy = corpora
    train_noisy = noisy.filter(F.col("doc_id").cast("long") % 2 == 0)
    train_gt = gt.filter(F.col("doc_id").cast("long") % 2 == 0)
    held_noisy = noisy.filter(F.col("doc_id").cast("long") % 2 == 1)
    held_gt = gt.filter(F.col("doc_id").cast("long") % 2 == 1)
    pairs = (
        lines_of(train_gt)
        .withColumnRenamed("line_text", "gt_text")
        .join(
            lines_of(train_noisy).withColumnRenamed("line_text", "ocr_text"),
            ["doc_id", "line_no"],
        )
        .filter(F.col("gt_text") != "")
    )
    from cor_asv_ann_spark.operators.train_charmap import learn_confusion_rules_iterative

    rounds = learn_confusion_rules_iterative(pairs)
    corrected = correct_pipeline(held_noisy, corrector=make_learned_corrector(rounds))
    flat = lambda df: df.select("doc_id", F.explode("spans").alias("s")).select(  # noqa: E731
        "doc_id", "s.*"
    )
    a, b = flat(corrected), flat(held_gt)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_compare_runs(spark, corpora):
    gt, noisy = corpora
    cmp_ = compare_runs(gt, noisy, "gt", "ocr")
    assert cmp_.filter(~F.col("equal")).count() > 0
    agg = cmp_.agg(F.sum("dist").alias("d"), F.count(F.lit(1)).alias("n")).collect()[0]
    assert agg.d > 0 and agg.n > 0
    same = compare_runs(gt, gt)
    assert same.filter(~F.col("equal")).count() == 0
