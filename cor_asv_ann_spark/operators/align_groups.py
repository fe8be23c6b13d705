"""Multi-OCR alignment/vote and TextEquiv merge operators — the Spark
re-expression of the reference CLIs `cor-asv-ann-align`
(wrapper/align.py) and `cor-asv-ann-join` (wrapper/join.py).

* ``align_vote_groups``: N line tables (one per OCR engine / file
  group) are N-way equi-joined on (doc_id, line_no) — the reference's
  zip across file groups, J1 — then each joined row is N-way
  character-aligned and voted inside an Arrow batch (J2+F10).
* ``join_group_texts``: UNION ALL with provenance index — every
  group's text for each line kept as an alternative annotation
  (join.py:98-104 keeps TextEquivs with @index per group, U3).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corelib.nway import align_and_vote
from .correction import lines_of

VOTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("line_no", T.IntegerType(), False),
        T.StructField("voted_text", T.StringType(), False),
        T.StructField("voted_conf", T.DoubleType(), False),
        T.StructField("n_inputs", T.IntegerType(), False),
    ]
)


def align_vote_groups(
    groups: list[DataFrame], method: str = "majority"
) -> DataFrame:
    """N spans tables → voted line table. The first group is the master
    (left side — its lines define the output, matching the reference's
    first-non-empty-group-as-base rule); other groups left-join on
    (doc_id, line_no) and may be missing."""
    assert groups, "need at least one input group"
    joined = lines_of(groups[0]).withColumnRenamed("line_text", "t0")
    for g, df in enumerate(groups[1:], 1):
        joined = joined.join(
            lines_of(df).withColumnRenamed("line_text", f"t{g}"),
            ["doc_id", "line_no"],
            "left",
        )
    n = len(groups)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            texts, confs, counts = [], [], []
            # column zip, not iterrows (hot loop of the vote operator)
            for row_seqs in zip(*(pdf[f"t{g}"] for g in range(n))):
                seqs = [s for s in row_seqs if isinstance(s, str) and s]
                t, c = align_and_vote(seqs, method=method)
                texts.append(t)
                confs.append(c)
                counts.append(len(seqs))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "line_no": pdf["line_no"],
                    "voted_text": texts,
                    "voted_conf": confs,
                    "n_inputs": counts,
                }
            )

    return joined.mapInPandas(run, schema=VOTED_SCHEMA)


VOTED_LINES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("line_idx", T.IntegerType(), False),
        T.StructField("line_ref", T.StringType(), True),
        T.StructField("line_id", T.StringType(), True),
        T.StructField("voted_text", T.StringType(), False),
        T.StructField("voted_conf", T.DoubleType(), False),
        T.StructField("n_inputs", T.IntegerType(), False),
    ]
)


def align_vote_lines(
    tables: list[DataFrame], method: str = "majority"
) -> DataFrame:
    """Workspace-grain N-way vote — the ocrd-cor-asv-ann-align core
    (wrapper/align.py:86-214) over PAGE-XML line tables from
    `sources.pagexml.line_table`: lines are matched across fileGrps by
    TextLine @id (align.py:109-111), character-aligned pairwise with
    TSP best-order expansion, and voted per column with per-char
    confidences (majority / confidence / combined, F10).

    The first table is the master: its lines define the output rows,
    order (line_idx) and geometry (line_ref) — the reference's
    first-non-empty-fileGrp-as-base rule. Other groups left-join and
    may miss lines; empty/missing texts are ignored in the vote
    (align.py:112-115); a line no group has text for keeps the master
    text. One broadcast-free equi-join per extra group + one Arrow
    batch pass — no driver loop, no shuffle beyond the joins."""
    assert tables, "need at least one input group"
    # join key: the TextLine @id, nulled when EMPTY — two id-less lines
    # in one page must not cross-match (null never equi-joins; the
    # master row survives the left join and keeps its own text)
    key = F.when(F.col("line_id") != "", F.col("line_id"))
    joined = tables[0].select(
        "doc_id",
        "line_idx",
        "line_ref",
        "line_id",
        key.alias("_k"),
        F.col("text").alias("t0"),
        F.col("confs").alias("c0"),
    )
    for g, t in enumerate(tables[1:], 1):
        joined = joined.join(
            t.select(
                "doc_id",
                key.alias("_k"),
                F.col("text").alias(f"t{g}"),
                F.col("confs").alias(f"c{g}"),
            ),
            ["doc_id", "_k"],
            "left",
        )
    joined = joined.drop("_k")
    n = len(tables)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            texts, confs_out, counts = [], [], []
            cols = [pdf[f"t{g}"] for g in range(n)]
            ccols = [pdf[f"c{g}"] for g in range(n)]
            for row_texts, row_confs in zip(zip(*cols), zip(*ccols)):
                seqs, confs = [], []
                for s, c in zip(row_texts, row_confs):
                    if not isinstance(s, str) or not s:
                        continue  # missing or empty line: ignored
                    c = list(c) if c is not None else []
                    seqs.append(s)
                    # conf vector defends against length drift
                    confs.append(
                        (c + [1.0] * len(s))[: len(s)]
                    )
                if not seqs:
                    t0 = row_texts[0] if isinstance(row_texts[0], str) else ""
                    texts.append(t0)
                    confs_out.append(1.0)
                    counts.append(0)
                    continue
                t, c = align_and_vote(seqs, confs, method=method)
                texts.append(t)
                confs_out.append(c)
                counts.append(len(seqs))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "line_idx": pdf["line_idx"],
                    "line_ref": pdf["line_ref"],
                    "line_id": pdf["line_id"],
                    "voted_text": texts,
                    "voted_conf": confs_out,
                    "n_inputs": counts,
                }
            )

    return joined.mapInPandas(run, schema=VOTED_LINES_SCHEMA)


def join_group_texts(groups: list[DataFrame]) -> DataFrame:
    """UNION ALL of per-line texts across groups with a provenance
    index (the reference's joined multi-TextEquiv annotation), plus an
    aggregated alternatives array per line."""
    union = None
    for g, df in enumerate(groups):
        part = lines_of(df).select(
            "doc_id", "line_no", F.col("line_text").alias("text"), F.lit(g).alias("grp")
        )
        union = part if union is None else union.unionByName(part)
    return (
        union.groupBy("doc_id", "line_no")
        .agg(
            F.array_sort(F.collect_list(F.struct("grp", "text"))).alias("alternatives"),
            F.count(F.lit(1)).alias("n_alternatives"),
        )
    )
