"""Data-driven corrector training: learn the confusion channel from
aligned (ocr, gt) pairs and compile it into a correction charmap.

This is the relational counterpart of the reference's confusion
extraction (lib/alignment.py:244-279) turned around into a corrector:
instead of shipping a hand-written charmap (P5), the engine *learns*
the dominant source→target substitutions from training pairs — the
same distributed alignment + hash-agg machinery as evaluation — and
applies them as a vectorized rule corrector. On the synthetic corpus
this recovers the injected historic channel exactly; on real data it
is the classic high-precision first pass before model decoding.

Training is one Spark job (explode edit pairs → count → filter by
support and dominance) and the result is a plain dict broadcast into
the correction UDF — no gradient loop needed for this operator class
(the seq2seq gradient loop is the reference's M7, out of scope per
SURVEY §2.10).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .evaluate import edit_pairs_udf


from pyspark.sql import types as T

BLOCK_SCHEMA = T.ArrayType(
    T.StructType(
        [T.StructField("s", T.StringType(), False), T.StructField("t", T.StringType(), False)]
    )
)


@F.pandas_udf(BLOCK_SCHEMA)
def _block_rules_udf(ocr: pd.Series, gt: pd.Series) -> pd.Series:
    """Candidate substitution blocks from token-wise difflib opcodes
    (tokens pair 1:1 when the channel preserves spaces; whole-line
    diff otherwise)."""
    from difflib import SequenceMatcher

    def blocks(o: str, g: str):
        out = []
        o_toks, g_toks = (o or "").split(" "), (g or "").split(" ")
        pairs_ = zip(o_toks, g_toks) if len(o_toks) == len(g_toks) else [(o, g)]
        sm = SequenceMatcher(isjunk=None, autojunk=False)
        for a, b in pairs_:
            if a == b:
                continue
            sm.set_seqs(a, b)
            for op, sb, se, tb, te in sm.get_opcodes():
                if op in ("replace", "delete") and a[sb:se]:
                    out.append({"s": a[sb:se], "t": b[tb:te]})
        return out

    return pd.Series([blocks(o, g) for o, g in zip(ocr, gt)])


def learn_confusion_rules(
    pairs: DataFrame,
    src: str = "ocr_text",
    tgt: str = "gt_text",
    min_support: int = 5,
    min_dominance: float = 0.9,
) -> dict[str, str]:
    """Mine source→target substitution rules from diff blocks, keeping a
    rule only when (a) it is the dominant rewrite for that source block
    and (b) nearly every corpus occurrence of the source block arose
    from the channel — so applying it as a global replace cannot corrupt
    innocent text (e.g. a gap-merged 'vi'→'i' candidate is rejected
    because genuine 'vi' appears all over the corpus)."""
    exploded = pairs.select(
        F.col(src).alias("_ocr"),
        F.explode(_block_rules_udf(F.col(src), F.col(tgt))).alias("p"),
    )
    counts = (
        exploded.groupBy(F.col("p.s").alias("s"), F.col("p.t").alias("t"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("s")
    ranked = (
        counts.withColumn("total", F.sum("n").over(w))
        .withColumn("share", F.col("n") / F.col("total"))
        .filter((F.col("n") >= min_support) & (F.col("share") >= min_dominance))
        .select("s", "t", "n")
    )
    cands = ranked.collect()
    if not cands:
        return {}
    # occurrence validation: count how often each candidate source
    # appears in the OCR corpus at all (one pass, candidates broadcast)
    frags = [r.s for r in cands]
    occ_exprs = [
        (
            (F.length(src) - F.length(F.replace(F.col(src), F.lit(s_))))
            / F.length(F.lit(s_))
        ).alias(f"o{i}")
        for i, s_ in enumerate(frags)
    ]
    occ = pairs.select(*occ_exprs).groupBy().sum().collect()[0]
    rules = {}
    for i, r in enumerate(cands):
        occurrences = occ[i] or 0
        if occurrences > 0 and r.n / occurrences >= min_dominance:
            rules[r.s] = r.t
    return rules


def learn_confusion_rules_iterative(
    pairs: DataFrame,
    src: str = "ocr_text",
    tgt: str = "gt_text",
    rounds: int = 3,
    min_support: int = 5,
    min_dominance: float = 0.9,
) -> list[dict[str, str]]:
    """Boosting-style residual learning: mine rules, apply them to the
    OCR side, re-mine on what's still wrong. Longer composite blocks
    (caught in round 1) stop shadowing the shorter rules inside them
    (caught in later rounds once the composites are gone)."""
    rule_rounds: list[dict[str, str]] = []
    cur = pairs
    for _ in range(rounds):
        rules = learn_confusion_rules(cur, src, tgt, min_support, min_dominance)
        if not rules:
            break
        rule_rounds.append(rules)
        fixed = F.col(src)
        for s_, t_ in sorted(rules.items(), key=lambda kv: -len(kv[0])):
            fixed = F.replace(fixed, F.lit(s_), F.lit(t_))
        cur = cur.withColumn(src, fixed).filter(F.col(src) != F.col(tgt))
    return rule_rounds


def make_learned_corrector(rule_rounds: list[dict[str, str]] | dict[str, str]):
    """Vectorized rule corrector: apply each learned round in order
    (longest source first within a round), then NFC."""
    if isinstance(rule_rounds, dict):
        rule_rounds = [rule_rounds]
    ordered_rounds = [
        sorted(r.items(), key=lambda kv: -len(kv[0])) for r in rule_rounds
    ]

    def corrector(texts: pd.Series):
        out = texts
        for rnd in ordered_rounds:
            for s, t in rnd:
                out = out.str.replace(s, t, regex=False)
        out = out.map(lambda x: unicodedata.normalize("NFC", x))
        return out, None

    return corrector


def compare_runs(
    run_a: DataFrame, run_b: DataFrame, label_a: str = "a", label_b: str = "b"
) -> DataFrame:
    """scripts/compare.py analogue: line-by-line comparison of two
    correction outputs — per-line distance + which lines differ."""
    from .correction import lines_of

    a = lines_of(run_a).withColumnRenamed("line_text", "text_a")
    b = lines_of(run_b).withColumnRenamed("line_text", "text_b")
    j = a.join(b, ["doc_id", "line_no"], "full_outer")
    return j.select(
        "doc_id",
        "line_no",
        F.col("text_a").alias(f"text_{label_a}"),
        F.col("text_b").alias(f"text_{label_b}"),
        F.levenshtein(
            F.coalesce("text_a", F.lit("")), F.coalesce("text_b", F.lit(""))
        ).alias("dist"),
        (F.coalesce("text_a", F.lit("")) == F.coalesce("text_b", F.lit(""))).alias("equal"),
    )
