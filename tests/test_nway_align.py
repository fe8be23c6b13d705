"""N-way alignment + voting (corelib + Spark operator)."""

import pytest
from pyspark.sql import functions as F

from cor_asv_ann_spark.corelib.nway import align_and_vote, align_columns, best_order, vote
from cor_asv_ann_spark.operators.align_groups import align_vote_groups, join_group_texts
from cor_asv_ann_spark.sources.spans import synth_spans


def test_majority_vote_recovers_truth():
    # three noisy readings, each wrong in a different place
    seqs = ["the quick fox\n", "the qujck fox\n", "thc quick fox\n"]
    text, conf = align_and_vote(seqs, method="majority")
    assert text == "the quick fox\n"
    assert 0.0 < conf <= 1.0


def test_vote_with_insertions_deletions():
    seqs = ["hello world\n", "helo world\n", "hello world\n"]
    text, _ = align_and_vote(seqs, method="majority")
    assert text == "hello world\n"
    seqs2 = ["abcd\n", "abxcd\n", "abcd\n"]
    text2, _ = align_and_vote(seqs2, method="majority")
    assert text2 == "abcd\n"


def test_confidence_vote():
    cols = align_columns(["ab", "ac"], [[0.9, 0.2], [0.5, 0.8]])
    text, _ = vote(cols, method="confidence")
    assert text[0] == "a"
    assert text[1] == "c"  # 0.8 > 0.2


def test_combined_vote():
    # 'b' appears twice with low conf; 'c' once with high conf
    cols = [(["b", "b", "c"], [0.3, 0.3, 0.5])]
    text, _ = vote(cols, method="combined")
    assert text == "b"  # 0.6 summed > 0.5
    cols2 = [(["b", "b", "c"], [0.2, 0.2, 0.9])]
    assert vote(cols2, method="combined")[0] == "c"


def test_best_order_small():
    assert best_order(["a"]) == [0]
    order = best_order(["abc", "zzz", "abd"])
    assert set(order) == {0, 1, 2}
    # the two similar sequences must be adjacent on the min-dist path
    pos = {v: i for i, v in enumerate(order)}
    assert abs(pos[0] - pos[2]) == 1


def test_single_and_empty_inputs():
    assert align_and_vote(["abc\n"]) == ("abc\n", 1.0)
    assert align_and_vote([]) == ("", 1.0)


def test_align_vote_groups_spark(spark, sf_small):
    gt = synth_spans(spark, sf_small, noisy=False)
    noisy = synth_spans(spark, sf_small, noisy=True)
    # three "engines": GT, noisy, GT — majority recovers GT everywhere
    voted = align_vote_groups([gt, noisy, gt], method="majority")
    from cor_asv_ann_spark.operators.correction import lines_of

    ref = lines_of(gt).withColumnRenamed("line_text", "gt_text")
    cmp_ = voted.join(ref, ["doc_id", "line_no"])
    mismatches = cmp_.filter(F.col("voted_text") != F.col("gt_text")).count()
    assert mismatches == 0
    # pure-media lines have no text in any group → n_inputs 0; all others 3
    assert voted.filter(~F.col("n_inputs").isin(0, 3)).count() == 0
    assert voted.filter((F.col("n_inputs") == 0) & (F.col("voted_text") != "")).count() == 0


def test_join_group_texts_spark(spark, sf_small):
    gt = synth_spans(spark, sf_small, noisy=False)
    noisy = synth_spans(spark, sf_small, noisy=True)
    joined = join_group_texts([gt, noisy])
    row = joined.filter(F.col("n_alternatives") == 2).limit(1).collect()
    assert row, "expected lines with two alternatives"
    alts = row[0].alternatives
    assert [a.grp for a in alts] == [0, 1]
