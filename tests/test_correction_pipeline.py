"""End-to-end correction pipeline: span-sequence equality vs gold.

The gold table is the GT spans table itself: the noisy table is the GT
degraded through the exactly-invertible historic channel, so the
pipeline's output must match GT on every (kind, text, media_ref, offset)
— the BASELINE.json correctness gate.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cor_asv_ann_spark.operators.correction import (
    assemble_lines,
    correct_pipeline,
    lines_from_span_arrays,
    pipeline_metrics,
    spans_with_line_no,
)
from cor_asv_ann_spark.schema import SPANS_SCHEMA
from cor_asv_ann_spark.sources.spans import synth_spans


@pytest.fixture(scope="module")
def gt(spark, sf_small):
    return synth_spans(spark, sf_small, noisy=False).cache()


@pytest.fixture(scope="module")
def noisy(spark, sf_small):
    return synth_spans(spark, sf_small, noisy=True).cache()


def test_synth_is_deterministic(spark, sf_small, gt):
    again = synth_spans(spark, sf_small, noisy=False)
    assert gt.exceptAll(again).count() == 0
    assert again.exceptAll(gt).count() == 0


def test_line_numbering_matches_newlines(gt):
    flat = spans_with_line_no(gt)
    # every newline span closes its own line: line_no == number of
    # preceding newlines
    bad = (
        flat.filter(F.col("kind") == "newline")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.countDistinct("line_no").alias("d"))
        .filter(F.col("n") != F.col("d"))
    )
    assert bad.count() == 0


def test_assemble_lines_concat_roundtrip(gt):
    """Concatenated span texts per line must equal the doc's text lines
    (the reference's word/line concat consistency, test_all.py:94-99)."""
    lines = assemble_lines(spans_with_line_no(gt))
    joined = lines.select(
        "doc_id", F.expr("concat_ws('', texts)").alias("line_text")
    )
    # every non-empty line ends with exactly one newline; pure-media
    # trailing lines are empty (media spans carry no text)
    assert joined.filter(
        (F.col("line_text") != "") & ~F.col("line_text").endswith("\n")
    ).count() == 0
    assert joined.filter(F.col("line_text").contains("\n\n")).count() == 0


def test_span_sequence_equality_end_to_end(spark, gt, noisy):
    out = correct_pipeline(noisy)
    # exact multiset equality of (doc_id, kind, text, media_ref, offset)
    gt_flat = gt.select("doc_id", F.explode("spans").alias("s")).select("doc_id", "s.*")
    out_flat = out.select("doc_id", F.explode("spans").alias("s")).select("doc_id", "s.*")
    n_gt = gt_flat.count()
    assert n_gt > 0
    assert out_flat.count() == n_gt
    diff = gt_flat.exceptAll(out_flat).count() + out_flat.exceptAll(gt_flat).count()
    assert diff == 0


def test_noisy_differs_from_gt(gt, noisy):
    gt_flat = gt.select("doc_id", F.explode("spans").alias("s")).select("doc_id", "s.*")
    noisy_flat = noisy.select("doc_id", F.explode("spans").alias("s")).select("doc_id", "s.*")
    assert gt_flat.exceptAll(noisy_flat).count() > 0


def test_pipeline_metrics(noisy):
    lines = assemble_lines(spans_with_line_no(noisy))
    from cor_asv_ann_spark.operators.correction import correct_lines

    corrected = correct_lines(lines)
    m = pipeline_metrics(corrected).collect()[0]
    assert m.n_docs > 0 and m.n_lines >= m.n_docs
    assert 0.0 < m.mean_line_cer < 1.0  # noise was actually corrected away


@pytest.fixture(scope="module")
def edge(spark):
    """Hand-built rows at the edges of line slicing: a trailing segment
    with no newline, a document with no newline, an empty span array
    and a media-only line."""

    def doc(doc_id, *spans):
        return (doc_id, [(k, t, m, o) for o, (k, t, m) in enumerate(spans)])

    w, sp, nl = ("word", "a", None), ("space", " ", None), ("newline", "\n", None)
    media = ("media", "", "img/1.png")
    return spark.createDataFrame(
        [
            doc("trailing", w, sp, w, nl, w, sp, w),
            doc("no_newline", w, sp, w),
            doc("empty"),
            doc("media_line", w, nl, media, nl, w, nl),
        ],
        SPANS_SCHEMA,
    )


@pytest.fixture(scope="module")
def line_inputs(spark, gt, edge, tmp_path_factory):
    from cor_asv_ann_spark.sources.pagexml import read_pagexml, synth_page_xml

    pages = tmp_path_factory.mktemp("pages")
    for did in map(str, range(40)):
        text = "".join(f"w{did} x{i} y\n" for i in range(int(did) % 5 + 1))
        (pages / f"{did}.xml").write_bytes(synth_page_xml(did, text))
    return {
        "synth_gt": gt,
        "pagexml": read_pagexml(spark, str(pages)).cache(),
        "edge": edge,
    }


@pytest.mark.parametrize("name", ["synth_gt", "pagexml", "edge"])
def test_line_no_is_the_newline_prefix_count(line_inputs, name):
    """Each span's line_no equals the number of newline spans before it
    in offset order (an independent window count), and the span-grain
    route through assemble_lines equals lines_from_span_arrays."""
    df = line_inputs[name]
    flat = spans_with_line_no(df)
    assert flat.columns == ["doc_id", "kind", "text", "media_ref", "offset", "line_no"]
    before = Window.partitionBy("doc_id").orderBy("offset").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ref = (
        df.select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", "s.*")
        .withColumn(
            "line_no",
            F.coalesce(
                F.sum((F.col("kind") == "newline").cast("int")).over(before), F.lit(0)
            ),
        )
    )
    assert ref.count() == flat.count() > 0
    assert ref.exceptAll(flat.select(*ref.columns)).count() == 0
    via_spans = assemble_lines(flat)
    direct = lines_from_span_arrays(df)
    assert via_spans.columns == direct.columns
    assert via_spans.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_spans).count() == 0


def test_edge_rows_line_split(edge):
    got = {
        (r.doc_id, r.line_no): (list(r.kinds), list(r.offsets))
        for r in lines_from_span_arrays(edge).collect()
    }
    assert got == {
        ("trailing", 0): (["word", "space", "word", "newline"], [0, 1, 2, 3]),
        ("trailing", 1): (["word", "space", "word"], [4, 5, 6]),
        ("no_newline", 0): (["word", "space", "word"], [0, 1, 2]),
        ("media_line", 0): (["word", "newline"], [0, 1]),
        ("media_line", 1): (["media", "newline"], [2, 3]),
        ("media_line", 2): (["word", "newline"], [4, 5]),
    }


def test_unordered_span_array_fails_loudly(spark):
    """Line slicing assumes offset-ordered span arrays; a reversed array
    must fail the query, not yield lines cut in array order."""
    rows = [("rev", [("word", "b", None, 2), ("space", " ", None, 1),
                     ("word", "a", None, 0)])]
    rev = spark.createDataFrame(rows, SPANS_SCHEMA)
    with pytest.raises(Exception, match="offsets must strictly increase"):
        lines_from_span_arrays(rev).collect()
    dup = spark.createDataFrame(
        [("dup", [("word", "a", None, 0), ("word", "b", None, 0)])], SPANS_SCHEMA
    )
    with pytest.raises(Exception, match="offsets must strictly increase"):
        spans_with_line_no(dup).collect()
