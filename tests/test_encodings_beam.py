"""Input encodings 2/3 (prob lines, confmat) and the beam-mode
pipeline flag."""

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from cor_asv_ann_spark.model.seq2seq_np import Seq2SeqModel, make_vocab


@pytest.fixture(scope="module")
def model():
    return Seq2SeqModel(make_vocab(set("abcdefgh \n")), width=16, depth=1, seed=3)


def test_problines_encoding(model):
    X, lens = model.encode_problines(["ab\n"], [[0.9, 0.5, 1.0]])
    assert X.shape == (1, 3, model.voc_size)
    a = model.vocab["a"]
    assert X[0, 0, a] == pytest.approx(0.9)
    assert X[0, 0, 0] == pytest.approx(0.1)  # mass to underspecified
    assert X[0, 2, model.vocab["\n"]] == 1.0


def test_problines_full_conf_equals_onehot(model):
    X1, l1 = model.encode_problines(["abc\n"], [[1.0] * 4])
    X2, l2 = model.encode_onehot(["abc\n"])
    assert np.array_equal(X1, X2)
    # and decoding them is identical
    o1 = model.decode_greedy_prob(["abc\n"], [[1.0] * 4])[0]
    o2 = model.decode_greedy_batch(["abc\n"])[0]
    assert o1 == o2


def test_confmat_encoding(model):
    # chunk 1: 'a' (p=.6) vs 'ab' (p=.4) → width 2, padding mass → idx 0
    cm = [[("a", 0.6), ("ab", 0.4)], [("\n", 1.0)]]
    X, lens = model.encode_confmat([cm])
    assert lens[0] == 3
    a, b = model.vocab["a"], model.vocab["b"]
    assert X[0, 0, a] == pytest.approx(1.0)  # both alternatives start 'a'
    assert X[0, 1, b] == pytest.approx(0.4)
    assert X[0, 1, 0] == pytest.approx(0.6)  # shorter alt pads to idx 0
    outs, probs, aligns = model.decode_greedy_confmat([cm])
    assert outs[0].endswith("\n")


def test_beam_rejection_preserves_oov_input(model):
    """The rejection path (seq2seq.py:1455-1470) must be able to carry
    the aligned INPUT character through the beam even when the model
    assigns it low probability: with a high rejection floor the best
    hypothesis tracks the source instead of hallucinating."""
    src = "hadc\n"
    finals_rej = model._beam_line(
        model.encode(model.encode_onehot([src])[0]),
        model.encode_onehot([src])[0][0],
        src_len=len(src),
        rejection_threshold=0.95,
        beam_width_out=4,
    )
    # with an overwhelming rejection floor, the echo path dominates
    assert finals_rej[0][0] == src
    # rejection nodes carry one-hot alignments at the tracked position
    al = finals_rej[0][3]
    assert al.shape == (len(src), len(src))
    assert np.allclose(al.diagonal()[:-1], 1.0)
    # with rejection disabled the echo is NOT guaranteed (seeded random
    # model): the two configurations genuinely differ
    finals_no = model._beam_line(
        model.encode(model.encode_onehot([src])[0]),
        model.encode_onehot([src])[0][0],
        src_len=len(src),
        rejection_threshold=0.0,
        beam_width_out=4,
    )
    assert finals_no[0][0] != src


def test_beam_width_out_multiple_finals(model):
    X, lens = model.encode_onehot(["abc\n"])
    finals = model._beam_line(
        model.encode(X), X[0], src_len=4, beam_width_out=4, batch_cap=8
    )
    assert 1 <= len(finals) <= 4
    costs = [f[2] for f in finals]
    # ranked by prospective cost: best (lowest pro_cost) first
    pro = [c + 3.0 * abs(len(f[0]) - 4) for c, f in zip(costs, finals)]
    assert pro == sorted(pro)
    for text, probs, _cost, al in finals:
        assert text.endswith("\n")
        assert len(probs) == len(text)
        assert al.shape == (len(text), 4)


def test_beam_batch_contract_and_determinism(model):
    texts = ["abc def\n", "hg\n"]
    o1, p1, a1 = model.decode_beam_batch(texts, beam_width=4)
    o2, p2, a2 = model.decode_beam_batch(texts, beam_width=4)
    assert o1 == o2
    for t, o, p, a in zip(texts, o1, p1, a1):
        assert o.endswith("\n")
        assert len(p) == len(o)
        assert a.shape == (len(o), len(t))


def test_beam_not_worse_than_greedy_on_echo_model(model):
    """On the seeded model with a strong rejection floor, beam output
    tracks the degraded input at least as closely as greedy (the
    property that makes beam worth its cost in the reference)."""
    import difflib

    srcs = ["abcd efgh\n", "hgfe dcba\n"]
    greedy, _, _ = model.decode_greedy_batch(srcs)
    beamed, _, _ = model.decode_beam_batch(srcs, beam_width=4, rejection_threshold=0.6)

    def sim(a, b):
        return difflib.SequenceMatcher(None, a, b).ratio()

    for s, g, b in zip(srcs, greedy, beamed):
        assert sim(b, s) >= sim(g, s)


def test_beam_pipeline_flag(spark, model):
    from cor_asv_ann_spark.model.corrector import make_model_corrector
    from cor_asv_ann_spark.operators.correction import correct_pipeline
    from cor_asv_ann_spark.schema import SPANS_SCHEMA

    df = spark.createDataFrame(
        [
            Row(
                doc_id="d0",
                spans=[
                    Row(kind="word", text="abc", media_ref="r", offset=0),
                    Row(kind="newline", text="\n", media_ref=None, offset=1),
                ],
            )
        ],
        schema=SPANS_SCHEMA,
    )
    corr = make_model_corrector(spark, model, beam=True, beam_width=3)
    out = correct_pipeline(df, corrector=corr).collect()
    assert len(out) == 1
    spans = out[0].spans
    assert spans[-1].kind == "newline"
    assert "".join(s.text for s in spans).endswith("\n")


def test_conf_channel_pipeline(spark, model):
    from cor_asv_ann_spark.model.corrector import make_model_corrector
    from cor_asv_ann_spark.operators.correction import correct_pipeline
    from cor_asv_ann_spark.schema import SPANS_SCHEMA
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [
            Row(
                doc_id="d0",
                spans=[
                    Row(kind="word", text="abc", media_ref="r", offset=0),
                    Row(kind="newline", text="\n", media_ref=None, offset=1),
                ],
            )
        ],
        schema=SPANS_SCHEMA,
    )
    conf_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("line_no", T.IntegerType()),
            T.StructField("conf", T.ArrayType(T.FloatType())),
        ]
    )
    conf = spark.createDataFrame([("d0", 0, [0.9, 0.8, 0.7, 1.0])], schema=conf_schema)
    corr = make_model_corrector(spark, model, use_conf=True)
    out = correct_pipeline(df, corrector=corr, conf_df=conf).collect()
    assert len(out) == 1
    # deterministic: same run twice gives identical output
    out2 = correct_pipeline(df, corrector=corr, conf_df=conf).collect()
    assert out == out2


def test_beam_cross_line_batching_bit_identical(model):
    """The lockstep multi-line beam (beam_search_multi) must produce the
    same texts as beaming each line separately over the SAME batch
    encoder output, compared exactly, and the same per-char probs and
    alignment matrices to float32 rounding — the cross-line stacking is
    a pure GEMM amortization, not a semantic change. (The encoder itself
    is batch-shape-dependent by reference parity: the backward half
    processes padding first, so single-line calls encode differently —
    the per-line baseline must share the batch encode.)"""
    texts = ["abc d\n", "hhh\n", "a\n", "defg abc h\n", "gg ff ee\n"]
    bo, bp, ba = model.decode_beam_batch(texts, beam_width=4)
    X, lens = model.encode_onehot(texts)
    enc = model.encode(X)
    for i in range(len(texts)):
        Lb = max(int(lens[i]), 1)
        finals = model._beam_line(
            enc[i : i + 1, :Lb], X[i, :Lb], src_len=int(lens[i]),
            batch_cap=4, beam_width_out=1, rejection_threshold=0.3,
        )
        so, sp, _cost, sa = finals[0]
        # the texts are the search trajectory (pops, expansions,
        # tiebreaks): exact
        assert bo[i] == so
        # probs and alignments agree to float32 tail. Both paths do the
        # same math at different array shapes, and neither numpy nor BLAS
        # rounds independently of shape: (1) the batched step takes the
        # attention energies tanh(enc_proj + q) @ att_v over rows padded
        # to the longest line, (n, Lmax, W), the per-line step over
        # (n, Lb, W); (2) the softmax denominator sums the padded row,
        # and numpy's pairwise summation groups terms differently from 8
        # entries on; (3) the LSTM step and the output projection multiply
        # the whole lockstep stack of hypothesis rows in the batched step,
        # one line's rows per line. So a last-bit drift in the weights a
        # reaches p = softmax(project(h, sum a*enc)). One float32 ulp is
        # at most 2**-23 in [0, 1], so atol 1e-6 is ~8 ulps at 1.0, rtol 0
        assert len(bp[i]) == len(sp)
        assert np.allclose(bp[i], sp, rtol=0, atol=1e-6)
        assert ba[i].shape == sa.shape
        assert np.allclose(ba[i], sa, atol=1e-6)


def test_beam_cross_line_batching_refgraph():
    """Same bit-identity pin for the reference-graph decoder (the padded
    masked attention must reproduce the sliced per-line computation)."""
    import tempfile

    from cor_asv_ann_spark.model.keras_graph import RefSeq2Seq, write_keras_fixture

    with tempfile.TemporaryDirectory() as td:
        write_keras_fixture(f"{td}/f.h5", width=16, depth=2, seed=7)
        m = RefSeq2Seq.load_h5(f"{td}/f.h5")
    # mixed lengths exercise the padded/masked stacked attention; uniform
    # lengths additionally give exact batch==single encoder equality
    texts = ["hello world\n", "the quick fox\n", "a\n", "some longer line here\n"]
    bo, bp, ba = m.decode_beam_batch(texts, beam_width=4)
    bo2, bp2, ba2 = m.decode_beam_batch(texts, beam_width=4)
    assert bo == bo2 and bp == bp2  # deterministic
    uniform = ["abcde hijk\n", "hello worl\n", "qrstu vwxy\n"]
    uo, up, ua = m.decode_beam_batch(uniform, beam_width=4)
    for i, t in enumerate(uniform):
        so, sp, sa = m.decode_beam_batch([t], beam_width=4)
        assert uo[i] == so[0]
        assert up[i] == sp[0]
        assert ua[i].shape == sa[0].shape and np.array_equal(ua[i], sa[0])
