"""The flagship extraction/correction pipeline.

Dataflow (north-star shape, BASELINE.json):

    read spans table
      → cut each document's span array into lines at its newline spans
        (``lines_from_span_arrays``: a per-row HOF slice — no explode,
        no aggregation; it is the only code that finds line boundaries —
        every other line or span view projects its line frame)
      → repartition(2×cores, doc_id, line_no): this hash redistribution
        at *line* grain is what defeats long-document skew (a
        10^6-span document becomes 10^5 independent line rows instead
        of one giant task — the reference instead sent a whole page as
        one model batch, ocrd_cor_asv_ann/wrapper/transcode.py:110-115,
        which is exactly the skew failure mode)
      → mapInPandas correction UDF (Arrow batches ≈ the reference's
        256-line batches, lib/seq2seq.py:111): charmap rules or numpy
        seq2seq greedy/beam decode, then alignment-path segmentation +
        whitespace redistribution (corelib); media spans ride along as
        locked members of their line
      → explode corrected spans
      → groupBy(doc_id) ordered collect_list reassembly → spans table

Shuffle budget: exactly two wide exchanges (line repartition, doc
reassembly); the correction stage itself is narrow. At 10^12 docs both
exchanges hash on high-cardinality keys and AQE coalesces the tail.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..corelib.noise import correct_charmap
from ..corelib.whitespace import segment_output
from ..schema import CORRECTED_LINE_SCHEMA, WS_KINDS

TEXT_KINDS = ("line", "word", "glyph", "space", "newline")


def lines_from_span_arrays(spans_df: DataFrame) -> DataFrame:
    """(doc_id, spans) at DOC grain → line grain
    (doc_id, line_no, kinds, texts, media_refs, offsets): the one place
    that finds line boundaries. Each line is a contiguous slice of the
    document's span array, split on newline spans, as a pure per-row
    HOF — no explode, no aggregation (guide §2.4: the data already
    arrives grouped the way the operation needs). A newline span
    terminates (and belongs to) its line; a trailing segment after the
    last newline (or a document with no newline at all) becomes its own
    line; an empty span array yields no rows.

    Contract: each span array is offset-ordered. It is checked, not
    assumed — a row whose offsets do not strictly increase fails the
    query (assert_true) instead of slicing its lines in array order."""
    ordered = F.assert_true(
        F.expr(
            "size(filter(spans, (s, i) -> i > 0 AND s.offset <= spans[i - 1].offset)) = 0"
        ),
        F.lit("lines_from_span_arrays: span offsets must strictly increase in each row"),
    )
    nl = F.coalesce(
        ordered,
        F.expr(
            "filter(transform(spans, (s, i) -> IF(s.kind = 'newline', i, -1)),"
            " x -> x >= 0)"
        ),
    )
    ends = F.expr(
        """
        CASE WHEN size(spans) = 0 THEN array()
             WHEN size(_nl) > 0 AND element_at(_nl, -1) = size(spans) - 1
               THEN _nl
             ELSE array_append(_nl, size(spans) - 1) END
        """
    )
    lines = F.expr(
        """
        transform(_ends, (e, j) -> struct(
          cast(j as int) as line_no,
          slice(spans,
                IF(j = 0, 0, element_at(_ends, j) + 1) + 1,
                e - IF(j = 0, 0, element_at(_ends, j) + 1) + 1) as sp))
        """
    )
    return (
        spans_df.select("doc_id", "spans")
        .withColumn("_nl", nl)
        .withColumn("_ends", ends)
        .select("doc_id", F.explode(lines).alias("l"))
        .select(
            "doc_id",
            F.col("l.line_no").alias("line_no"),
            F.expr("transform(l.sp, x -> x.kind)").alias("kinds"),
            F.expr("transform(l.sp, x -> x.text)").alias("texts"),
            F.expr("transform(l.sp, x -> x.media_ref)").alias("media_refs"),
            F.expr("transform(l.sp, x -> x.offset)").alias("offsets"),
        )
    )


def lines_of(spans_df: DataFrame) -> DataFrame:
    """Spans table → (doc_id, line_no, line_text): the text view of
    :func:`lines_from_span_arrays`, shuffle-free."""
    return lines_from_span_arrays(spans_df).select(
        "doc_id", "line_no", F.concat_ws("", "texts").alias("line_text")
    )


def spans_with_line_no(df: DataFrame) -> DataFrame:
    """(doc_id, spans) → span grain (doc_id, kind, text, media_ref,
    offset, line_no): the line frame of :func:`lines_from_span_arrays`
    exploded back to one row per span."""
    s = F.explode(F.arrays_zip("kinds", "texts", "media_refs", "offsets")).alias("s")
    return lines_from_span_arrays(df).select("doc_id", "line_no", s).select(
        "doc_id",
        F.col("s.kinds").alias("kind"),
        F.col("s.texts").alias("text"),
        F.col("s.media_refs").alias("media_ref"),
        F.col("s.offsets").alias("offset"),
        "line_no",
    )


def assemble_lines(flat: DataFrame) -> DataFrame:
    """Span grain → line grain: ordered parallel arrays per (doc, line).
    Media spans ride along as locked members of their line (zero text;
    the UDF never writes into them) — keeping them in-path means the
    input is scanned exactly once instead of a second scan for a
    media-bypass union branch."""
    lines = (
        flat.groupBy("doc_id", "line_no")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ).alias("sp")
        )
        .select(
            "doc_id",
            "line_no",
            F.expr("transform(sp, x -> x.kind)").alias("kinds"),
            F.expr("transform(sp, x -> x.text)").alias("texts"),
            F.expr("transform(sp, x -> x.media_ref)").alias("media_refs"),
            F.expr("transform(sp, x -> x.offset)").alias("offsets"),
        )
    )
    return lines


def salt_bucket(col: Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


CorrectorFn = Callable[[pd.Series], tuple[pd.Series, list[list[float]] | None]]


def charmap_corrector(texts: pd.Series) -> tuple[pd.Series, None]:
    """Vectorized rule corrector: invert the historic-glyph channel + NFC."""
    return texts.map(correct_charmap), None


def confmat_argmax_corrector(texts: pd.Series, confmats: pd.Series):
    """Confusion-network rule corrector: per chunk pick the
    highest-probability alternative (the relational analogue of the
    model consuming encoding 3, SURVEY §1.2 — the reference's flagship
    feeds multi-TextEquiv glyph alternatives this way,
    wrapper/transcode.py:236-277). Lines without a confmat pass
    through unchanged."""
    outs, probs = [], []
    for in_line, cm in zip(texts, confmats):
        if cm is None or len(cm) == 0:
            outs.append(in_line)
            probs.append([1.0] * len(in_line))
            continue
        out_parts: list[str] = []
        pr: list[float] = []
        for chunk in cm:
            best = max(chunk, key=lambda d: d["p"])
            alt, p = best["alt"], float(best["p"])
            out_parts.append(alt)
            pr.extend([p] * len(alt))
        outs.append("".join(out_parts))
        probs.append(pr)
    return pd.Series(outs, index=texts.index), probs


confmat_argmax_corrector.wants_confmat = True


def make_correct_lines_udf(corrector: CorrectorFn):
    def correct(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            in_lines = pdf["texts"].map(lambda ts: "".join(ts))
            if getattr(corrector, "wants_confmat", False) and "confmat" in pdf.columns:
                import json

                cms = pdf["confmat"].map(
                    lambda s: json.loads(s) if isinstance(s, str) else s
                )
                res = corrector(in_lines, cms)
            elif getattr(corrector, "wants_conf", False) and "conf" in pdf.columns:
                res = corrector(in_lines, pdf["conf"])
            else:
                res = corrector(in_lines)
            out_lines, out_probs = res[0], res[1]
            paths = res[2] if len(res) > 2 else None  # model Viterbi paths
            rows_out, rows_conf, rows_cer = [], [], []
            # list views once per batch: per-row .iloc on object Series
            # is pandas indexing machinery in the hot loop
            texts_rows = pdf["texts"].tolist()
            kinds_rows = pdf["kinds"].tolist()
            in_rows = in_lines.tolist()
            out_rows = out_lines.tolist()
            for idx in range(len(pdf)):
                texts = list(texts_rows[idx])
                kinds = list(kinds_rows[idx])
                in_line = in_rows[idx]
                if in_line == "":  # media-only / empty line: pass through
                    rows_out.append(texts)
                    rows_conf.append([1.0] * len(texts))
                    rows_cer.append(0.0)
                    continue
                is_ws = [k in WS_KINDS for k in kinds]
                locked = [k not in TEXT_KINDS for k in kinds]
                out_line = out_rows[idx]
                probs = out_probs[idx] if out_probs is not None else None
                path = paths[idx] if paths is not None else None
                new_texts, new_confs = segment_output(
                    texts, is_ws, out_line, probs, path=path, locked=locked
                )
                rows_out.append(new_texts)
                rows_conf.append(new_confs)
                rows_cer.append(None)  # computed JVM-side (builtin levenshtein)
            pdf = pdf.assign(out_texts=rows_out, out_confs=rows_conf, line_cer=rows_cer)
            yield pdf[[f.name for f in CORRECTED_LINE_SCHEMA.fields]]

    return correct


def correct_lines(
    lines: DataFrame,
    corrector: CorrectorFn | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Arrow-batched correction. The line frame is explicitly
    repartitioned to a compute-sized partition count first: AQE's
    size-based coalescing is right for relational stages but collapses
    the tiny line rows into a handful of partitions, serializing the
    CPU-heavy inference UDF (measured: 10 partitions on a 32-core box,
    zero speedup 8→32 cores). An explicit REPARTITION_BY_NUM on the
    salted line key is honored by AQE — this is the north-star 'salted
    partitions' exchange."""
    corrector = corrector or charmap_corrector
    if n_partitions is None:
        n_partitions = lines.sparkSession.sparkContext.defaultParallelism * 2
    if n_partitions:  # 0 = caller pre-partitioned the span-grain input
        lines = lines.repartition(n_partitions, "doc_id", "line_no")
    out = lines.mapInPandas(make_correct_lines_udf(corrector), schema=CORRECTED_LINE_SCHEMA)
    # per-line CER via the JVM builtin (a pure-Python DP here was 70% of
    # the whole UDF stage's CPU)
    return _line_cer_col(out)


def _line_cer_col(out: DataFrame) -> DataFrame:
    """Per-line CER via the JVM builtin (Levenshtein-fast semantics, F1)."""
    in_line = F.concat_ws("", F.col("texts"))
    out_line = F.concat_ws("", F.col("out_texts"))
    return out.withColumn(
        "line_cer",
        F.try_divide(
            F.levenshtein(in_line, out_line).cast("double"),
            F.greatest(F.length(in_line), F.length(out_line)).cast("double"),
        ),
    )


def make_correct_lines_stateful_udf(correct_docs, flush_docs: int = 64):
    """Doc-sequential correction UDF for stateful models. Input rows
    arrive doc-contiguous and line-ordered (the operator repartitions by
    doc_id and sorts within partitions); the UDF streams Arrow batches,
    holding back each batch's trailing (possibly incomplete) document so
    documents straddling a batch boundary stay whole, and hands
    ``flush_docs`` complete documents at a time to ``correct_docs`` —
    which runs all their lines in lockstep rounds, state carried within
    each doc only."""

    def correct(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: pd.DataFrame | None = None

        def process(df: pd.DataFrame) -> pd.DataFrame:
            # group doc-contiguous rows; decode non-empty lines per doc
            doc_rows: list[list[int]] = []
            doc_ids: list[str] = []
            for i in range(len(df)):
                d = df["doc_id"].iloc[i]
                if not doc_ids or d != doc_ids[-1]:
                    doc_ids.append(d)
                    doc_rows.append([])
                doc_rows[-1].append(i)
            in_lines = df["texts"].map(lambda ts: "".join(ts))
            doc_lines, doc_line_rows = [], []
            for rows in doc_rows:
                nz = [i for i in rows if in_lines.iloc[i] != ""]
                doc_lines.append([in_lines.iloc[i] for i in nz])
                doc_line_rows.append(nz)
            outs, probs, paths = correct_docs(doc_lines)
            rows_out = [None] * len(df)
            rows_conf = [None] * len(df)
            for rows, nz, d_outs, d_probs, d_paths in zip(
                doc_rows, doc_line_rows, outs, probs, paths
            ):
                by_row = dict(zip(nz, range(len(nz))))
                for i in rows:
                    texts = list(df["texts"].iloc[i])
                    kinds = list(df["kinds"].iloc[i])
                    if i not in by_row:  # media-only / empty line
                        rows_out[i] = texts
                        rows_conf[i] = [1.0] * len(texts)
                        continue
                    j = by_row[i]
                    is_ws = [k in WS_KINDS for k in kinds]
                    locked = [k not in TEXT_KINDS for k in kinds]
                    new_texts, new_confs = segment_output(
                        texts, is_ws, d_outs[j], d_probs[j],
                        path=d_paths[j], locked=locked,
                    )
                    rows_out[i] = new_texts
                    rows_conf[i] = new_confs
            df = df.assign(
                out_texts=rows_out, out_confs=rows_conf,
                line_cer=[None] * len(df),
            )
            return df[[f.name for f in CORRECTED_LINE_SCHEMA.fields]]

        for pdf in batches:
            if pdf.empty:
                continue
            df = pdf if buf is None else pd.concat([buf, pdf], ignore_index=True)
            last_doc = df["doc_id"].iloc[-1]
            head = df[df["doc_id"] != last_doc]
            buf = df[df["doc_id"] == last_doc].reset_index(drop=True)
            while len(head):
                uniq = head["doc_id"].drop_duplicates()
                take = set(uniq.iloc[:flush_docs])
                part = head[head["doc_id"].isin(take)]
                head = head[~head["doc_id"].isin(take)]
                yield process(part.reset_index(drop=True))
        if buf is not None and len(buf):
            yield process(buf)

    return correct


def correct_lines_stateful(
    lines: DataFrame,
    correct_docs,
    n_partitions: int | None = None,
) -> DataFrame:
    """Stateful-model analogue of :func:`correct_lines`: state transfer
    across a document's lines requires doc-contiguous, line-ordered
    input, so lines repartition by doc_id (not the salted line key) and
    sort within partitions. Skew bound: one document is the atomic unit
    — docs are bounded (SURVEY §7.3), and the UDF still vectorizes
    across the many documents of a partition."""
    if n_partitions is None:
        n_partitions = lines.sparkSession.sparkContext.defaultParallelism * 2
    if n_partitions:  # 0 = caller pre-partitioned by doc_id already
        lines = lines.repartition(n_partitions, "doc_id")
    lines = lines.sortWithinPartitions("doc_id", "line_no")
    out = lines.mapInPandas(
        make_correct_lines_stateful_udf(correct_docs), schema=CORRECTED_LINE_SCHEMA
    )
    return _line_cer_col(out)


def reassemble(corrected: DataFrame, with_confs: bool = False) -> DataFrame:
    """Corrected line rows → spans table, ordered collect_list keyed by
    doc_id (the north-rule reassembly). ``with_confs=True`` adds a
    ``span_confs`` column (array<float> position-aligned with spans —
    the per-span model confidences from out_confs) riding the SAME
    sorted struct, so alignment is by construction; the PAGE-XML sink
    writes them into TextEquiv/@conf."""
    zip_cols = [
        F.col("offsets").alias("offset"),
        F.col("kinds").alias("kind"),
        F.col("out_texts").alias("text"),
        F.col("media_refs").alias("media_ref"),
    ]
    if with_confs:
        zip_cols.append(F.col("out_confs").alias("conf"))
    text_spans = corrected.select(
        "doc_id", F.explode(F.arrays_zip(*zip_cols)).alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        *([F.col("s.conf").alias("conf")] if with_confs else []),
    )
    struct_cols = ["offset", "kind", "text", "media_ref"] + (
        ["conf"] if with_confs else []
    )
    out_cols = [
        "doc_id",
        F.expr(
            "transform(sp, x -> struct(x.kind as kind, x.text as text,"
            " x.media_ref as media_ref, x.offset as offset))"
        ).alias("spans"),
    ]
    if with_confs:
        out_cols.append(F.expr("transform(sp, x -> x.conf)").alias("span_confs"))
    return (
        text_spans.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct(*struct_cols))).alias("sp")
        )
        .select(*out_cols)
    )


def correct_span_lines(
    spans_df: DataFrame,
    corrector: CorrectorFn | None = None,
    conf_df: DataFrame | None = None,
    confmat_df: DataFrame | None = None,
    stateful_correct_docs=None,
) -> DataFrame:
    """Spans table → corrected line rows (CORRECTED_LINE_SCHEMA plus the
    JVM-side ``line_cer``): the line assembly and correction stages that
    :func:`correct_pipeline` and ``checkpoint.run_resumable`` share, so
    the resumable job runs the same plan as the flagship.

    NARROW line assembly: each document row already holds its ordered
    span array, so the line grain comes from a per-row HOF slice
    (lines_from_span_arrays) with no explode and no
    groupBy(doc_id, line_no) aggregation. ONE wide exchange: the line rows are
    hash-repartitioned to the UDF's compute-sized partition count
    (the explicit REPARTITION_BY_NUM defeats AQE's pre-UDF
    coalescing, the deliberate r4 property), and the correction stage
    (told via n_partitions=0 that the input is pre-partitioned) adds
    none. The stateful path partitions by doc_id alone so documents
    stay whole within a partition; line-grain keys otherwise keep the
    giant-document skew spread (pinned by the skew test)."""
    lines = lines_from_span_arrays(spans_df)
    n_partitions = spans_df.sparkSession.sparkContext.defaultParallelism * 2
    if stateful_correct_docs is not None:
        lines = lines.repartition(n_partitions, "doc_id")
    else:
        lines = lines.repartition(n_partitions, "doc_id", "line_no")
    if conf_df is not None:
        lines = lines.join(conf_df, ["doc_id", "line_no"], "left")
    if confmat_df is not None:
        # the doubly-nested array<array<struct>> trips Arrow's pandas
        # deserializer inside mapInPandas (ragged ndarray coercion) —
        # ship it across the UDF boundary as JSON and parse per batch
        lines = lines.join(
            confmat_df.withColumn("confmat", F.to_json("confmat")),
            ["doc_id", "line_no"],
            "left",
        )
    if stateful_correct_docs is not None:
        return correct_lines_stateful(lines, stateful_correct_docs, n_partitions=0)
    return correct_lines(lines, corrector, n_partitions=0)


def correct_pipeline(
    spans_df: DataFrame,
    corrector: CorrectorFn | None = None,
    conf_df: DataFrame | None = None,
    confmat_df: DataFrame | None = None,
    stateful_correct_docs=None,
    with_confs: bool = False,
) -> DataFrame:
    """End-to-end: spans table in → corrected spans table out
    (:func:`correct_span_lines` + :func:`reassemble`).

    ``stateful_correct_docs`` (from
    ``model.corrector.make_stateful_doc_corrector``) switches the
    correction stage to the doc-sequential stateful path
    (:func:`correct_lines_stateful`).

    ``conf_df`` is an optional per-line
    confidence channel (doc_id, line_no, conf: array<float>) consumed by
    conf-aware correctors (prob-line encoding, SURVEY §1.2);
    ``confmat_df`` the analogous confusion-network channel
    (doc_id, line_no, confmat — encoding 3, CONFMAT_SCHEMA)."""
    corrected = correct_span_lines(
        spans_df, corrector, conf_df, confmat_df, stateful_correct_docs
    )
    return reassemble(corrected, with_confs=with_confs)


def pipeline_metrics(corrected: DataFrame) -> DataFrame:
    """Per-run aggregate CER/throughput inputs from the corrected line
    rows (sum-decomposed so Spark's partial aggregation is the Chan
    merge — SURVEY.md §2.4 A1)."""
    return corrected.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.expr("aggregate(texts, 0, (a, t) -> a + length(t))")).alias("n_chars"),
        F.avg("line_cer").alias("mean_line_cer"),
    )


def run_with_wall_clock(df: DataFrame) -> tuple[int, float]:
    t0 = time.time()
    n = df.count()
    return n, time.time() - t0
