"""Spellcheck marking (SURVEY.md §2.2 P8, §2.4 A7, §2.5 W6).

The reference marks words as in-vocabulary / out-of-vocabulary against
hunspell, normalizing each word (charmap + strip non-Letter/Mark
codepoints, wrapper/mark.py:59-69 `asword`), retrying hyphenated
line-final words joined with the next line's first word
(wrapper/mark.py:107-124), and counts candidates/nonmatches across
pages (mark.py:31-37,131-136 — a multiprocessing shared dict that in
Spark is just an aggregation).

Spark shape: normalization = pandas UDF; IV/OOV = broadcast left-semi /
anti join against the lexicon; dehyphenation = lead() window over
(doc, line) order; counters = one agg.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

HYPHENS = ("-", "⸗", "­")


@F.pandas_udf(T.StringType())
def asword_udf(word: pd.Series) -> pd.Series:
    """P8: keep only Letter/Mark codepoints (wrapper/mark.py:59-69)."""

    def norm(w: str) -> str:
        return "".join(c for c in (w or "") if unicodedata.category(c)[0] in ("L", "M"))

    return word.map(norm)


def asword_col(col, charmap: "dict[str, str] | None" = None):
    """JVM-side ``asword`` normalization (whole-stage codegen, no
    Python boundary): the charmap as a chain of SEQUENTIAL literal
    replaces (wrapper/mark.py:60-62 iterates str.replace — mappings are
    m:n, so maketrans does not apply), then strip every codepoint that
    is not Unicode Letter/Mark. Replaces :func:`asword_udf` /
    :func:`asword_normalizer` in the marking hot path — both Java regex
    ``\\p{L}\\p{M}`` and Python ``unicodedata.category`` classify by
    Unicode general category, and the JVM form is what the ANSI-SQL
    oracle replays (equivalence pinned by tests/test_reseg_mark_lines
    over the full fixture alphabet)."""
    for nfrom, nto in (charmap or {}).items():
        col = F.replace(col, F.lit(nfrom), F.lit(nto))
    return F.regexp_replace(col, "[^\\p{L}\\p{M}]", "")


def asword_normalizer(charmap: "dict[str, str] | None"):
    """``asword`` with the mark processor's ``normalization`` charmap
    applied first (wrapper/mark.py:60-62: SEQUENTIAL str.replace — the
    mappings here are m:n, e.g. ``a\\u0364``→``ä``, so maketrans does
    not apply; the reference iterates replace() and so do we). With no
    charmap this is exactly :func:`asword_udf`."""
    if not charmap:
        return asword_udf
    items = tuple(charmap.items())

    @F.pandas_udf(T.StringType())
    def norm_udf(word: pd.Series) -> pd.Series:
        def norm(w: str) -> str:
            w = w or ""
            for nfrom, nto in items:
                w = w.replace(nfrom, nto)
            return "".join(
                c for c in w if unicodedata.category(c)[0] in ("L", "M")
            )

        return word.map(norm)

    return norm_udf


def words_from_spans(spans_df: DataFrame) -> DataFrame:
    """Spans table → one row per word span with line/word positions:
    a posexplode of each line's word spans, narrow (no window, no
    exchange)."""
    from .correction import lines_from_span_arrays

    words = F.expr(
        "filter(arrays_zip(kinds, texts, offsets), x -> x.kinds = 'word')"
    )
    return (
        lines_from_span_arrays(spans_df)
        .select("doc_id", "line_no", F.posexplode(words).alias("word_idx", "w"))
        .select(
            "doc_id",
            "line_no",
            "word_idx",
            F.col("w.texts").alias("word"),
            F.col("w.offsets").alias("offset"),
        )
    )


def lexicon_from_wordlist(
    spark, path: str, aff_path: "str | None" = None
) -> DataFrame:
    """External-dictionary drop-in (the reference marks against hunspell
    dictionaries, wrapper/mark.py:59-69,107-124; hunspell itself is not
    in this container): read a plain wordlist or a hunspell ``.dic`` file
    into the ``(entry)`` lexicon frame that ``mark_words``/
    ``dehyphenate_recheck`` consume.

    Affix flags are EXPANDED, not stripped (hunspell semantics:
    "Haus/N" also accepts whatever the N suffix rules derive, e.g.
    Häuser): when an ``.aff`` file is given — or sits next to the
    ``.dic`` — its SFX/PFX rules are parsed on the driver (tiny file),
    broadcast, and each entry explodes into its surface forms via an
    Arrow-batched UDF, so a million-entry dictionary expands
    distributed. Without an ``.aff``, flags are stripped as before
    (base forms only). The leading entry-count line is dropped either
    way; ``mark_oov``'s corpus-derived lexicon path is unchanged."""
    import os

    if aff_path is None and path.endswith(".dic"):
        sibling = path[: -len(".dic")] + ".aff"
        if os.path.exists(sibling):
            aff_path = sibling
    lines = (
        spark.read.text(path)
        .select(F.trim(F.col("value")).alias("raw"))
        .filter((F.col("raw") != "") & ~F.col("raw").rlike("^[0-9]+$"))
    )
    if aff_path is None:
        return (
            lines.select(F.regexp_replace("raw", "/.*$", "").alias("entry"))
            .filter(F.col("entry") != "")
            .distinct()
        )
    from ..corelib.affix import expand_entry_tagged, parse_aff

    with open(aff_path, encoding="utf-8", errors="replace") as f:
        aff = parse_aff(f.read())
    aff_b = spark.sparkContext.broadcast(aff)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def expand_udf(entries: pd.Series) -> pd.Series:
        rules = aff_b.value
        # ONLYINCOMPOUND forms are parts, not words — keep standalone
        return entries.map(
            lambda e: [w for w, t in expand_entry_tagged(e, rules) if "s" in t]
        )

    return (
        lines.select(F.explode(expand_udf(F.col("raw"))).alias("entry"))
        .filter(F.col("entry") != "")
        .distinct()
    )


def _dic_lines(spark, path: str) -> DataFrame:
    return (
        spark.read.text(path)
        .select(F.trim(F.col("value")).alias("raw"))
        .filter((F.col("raw") != "") & ~F.col("raw").rlike("^[0-9]+$"))
    )


def _tagged_frame(spark, path: str, aff: dict) -> DataFrame:
    """.dic → distinct (form, tags) rows via the distributed tagged
    expansion (broadcast .aff rules)."""
    from ..corelib.affix import expand_entry_tagged

    aff_b = spark.sparkContext.broadcast(aff)

    @F.pandas_udf(
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("form", T.StringType()),
                    T.StructField("tags", T.StringType()),
                ]
            )
        )
    )
    def tagged_udf(entries: pd.Series) -> pd.Series:
        rules = aff_b.value
        return entries.map(lambda e: expand_entry_tagged(e, rules))

    return (
        _dic_lines(spark, path)
        .select(F.explode(tagged_udf(F.col("raw"))).alias("ft"))
        .select(F.col("ft.form").alias("form"), F.col("ft.tags").alias("tags"))
        .filter(F.col("form") != "")
        .distinct()
    )


def _rule_word_rows(spark, path: str, aff: dict) -> list:
    """COMPOUNDRULE word → pattern-flags projection; only the
    pattern-flagged subset survives the filter (bounded — en_US: the
    number words). The pattern flag set is computed ONCE per batch,
    not per entry."""
    from ..corelib.affix import _split_flags, parse_compound_rules

    aff_b = spark.sparkContext.broadcast(aff)

    @F.pandas_udf("word string, fl string")
    def rule_udf(entries: pd.Series) -> pd.DataFrame:
        a = aff_b.value
        comp = a.get("compound") or {}
        mode = a["flag_mode"]
        wanted = {
            f
            for toks in parse_compound_rules(comp.get("rules") or [], mode)
            for f, _ in toks
        }
        words, fls = [], []
        for e in entries:
            w, _, ff = e.partition("/")
            w = w.strip()
            words.append(w)
            if not w or not ff or not wanted:
                fls.append("")
            else:
                fls.append(
                    ",".join(
                        sorted(set(_split_flags(ff.strip(), mode)) & wanted)
                    )
                )
        return pd.DataFrame({"word": words, "fl": fls})

    return (
        _dic_lines(spark, path)
        .select(rule_udf(F.col("raw")).alias("wf"))
        .select("wf.word", "wf.fl")
        .filter((F.col("fl") != "") & (F.col("word") != ""))
        .distinct()
        .collect()
    )


def _resolve_aff(path: str, aff_path: "str | None") -> "str | None":
    import os

    if aff_path is None and path.endswith(".dic"):
        sibling = path[: -len(".dic")] + ".aff"
        if os.path.exists(sibling):
            return sibling
    return aff_path


def _compound_from_tagged(spark, path, aff, tagged_rows):
    from ..corelib.affix import build_compound_lexicon

    rule_rows = []
    if (aff.get("compound") or {}).get("rules"):
        rule_rows = _rule_word_rows(spark, path, aff)
    return build_compound_lexicon(
        [(r["form"], r["tags"]) for r in tagged_rows],
        aff,
        rule_words=[(r["word"], r["fl"]) for r in rule_rows],
    )


def compound_lexicon_from_dic(spark, path: str, aff_path: "str | None" = None):
    """Hunspell COMPOUND*/ICONV acceptance for :func:`mark_words`
    (wrapper/mark.py:59-69 shells out to hunspell, which resolves
    German-style compounds at lookup time — unboundedly many surface
    forms, so they cannot be pre-expanded into the join lexicon).
    Returns a broadcast-ready :class:`~..corelib.affix.CompoundLexicon`
    or ``None`` when the ``.aff`` carries no COMPOUND*/ICONV
    directives. The tagged expansion runs distributed; only the
    dictionary-bounded distinct (form, tags) pairs are collected."""
    from ..corelib.affix import parse_aff

    aff_path = _resolve_aff(path, aff_path)
    if aff_path is None:
        return None
    with open(aff_path, encoding="utf-8", errors="replace") as f:
        aff = parse_aff(f.read())
    if not aff.get("compound") and not aff.get("iconv"):
        return None
    rows = _tagged_frame(spark, path, aff).collect()
    return _compound_from_tagged(spark, path, aff, rows)


def lexicon_and_compound(spark, path: str, aff_path: "str | None" = None):
    """ONE distributed dictionary expansion feeding BOTH marking
    surfaces: the broadcast join lexicon (standalone forms) and the
    :class:`CompoundLexicon` (part sets + COMPOUNDRULE words).
    `lexicon_from_wordlist` + `compound_lexicon_from_dic` each
    re-expand the whole ``.dic``; run_mark uses this to pay for the
    expansion once. Returns ``(lexicon_df, compound_or_None)``."""
    from ..corelib.affix import parse_aff

    aff_path = _resolve_aff(path, aff_path)
    if aff_path is None:
        return lexicon_from_wordlist(spark, path), None
    with open(aff_path, encoding="utf-8", errors="replace") as f:
        aff = parse_aff(f.read())
    rows = _tagged_frame(spark, path, aff).collect()
    # ONLYINCOMPOUND forms are parts, not words — standalone only;
    # built from the already-collected rows (dictionary-bounded), so
    # the lexicon join side needs no second expansion job
    forms = sorted({r["form"] for r in rows if "s" in r["tags"]})
    lexicon = spark.createDataFrame(
        [(w,) for w in forms], "entry string"
    )
    comp = None
    if aff.get("compound") or aff.get("iconv"):
        comp = _compound_from_tagged(spark, path, aff, rows)
    return lexicon, comp


def _compound_udfs(spark, compound):
    """(normalize, accepts) pandas UDFs over a broadcast
    :class:`~..corelib.affix.CompoundLexicon` (ICONV single-pass
    conversion; compound-DP acceptance). ``accepts`` runs the split DP
    only — standalone forms are already covered by the exact join."""
    comp_b = spark.sparkContext.broadcast(compound)

    @F.pandas_udf(T.StringType())
    def iconv_udf(word: pd.Series) -> pd.Series:
        lex = comp_b.value
        return word.map(lambda w: lex.convert(w) if w else w)

    @F.pandas_udf(T.BooleanType())
    def accepts_udf(normed: pd.Series, oov: pd.Series) -> pd.Series:
        # the DP runs only on join-miss rows (oov=True); the ArrowEval
        # node sees every row, so the skip lives inside the batch
        lex = comp_b.value
        return pd.Series(
            [bool(o) and bool(w) and lex.accepts_compound(w)
             for w, o in zip(normed, oov)]
        )

    return iconv_udf, accepts_udf


def mark_words(
    words: DataFrame, lexicon: DataFrame, compound=None, charmap=None
) -> DataFrame:
    """IV/OOV marking: normalized word broadcast-joined against the
    lexicon (column ``entry``). Returns words + ``oov`` flag.

    With ``compound`` (a :class:`~..corelib.affix.CompoundLexicon`
    from :func:`compound_lexicon_from_dic`), hunspell semantics extend
    the join: ICONV conversion is applied inside the normalization, and
    words that MISS the exact join get a compound split-DP rescue pass
    — an Arrow-batched UDF over the broadcast part sets, touching only
    the (small) OOV residue, never the in-vocabulary bulk."""
    iconv_udf = accepts_udf = None
    if compound is not None:
        iconv_udf, accepts_udf = _compound_udfs(words.sparkSession, compound)
    norm_col = F.lower(asword_col(F.col("word"), charmap))
    if compound is not None and compound.iconv:
        norm_col = F.lower(asword_col(iconv_udf(F.col("word")), charmap))
    normed = words.withColumn("normed", norm_col)
    # single broadcast LEFT join against the deduped lexicon: the old
    # semi-join + key-back-join shape rebroadcast a CORPUS-sized hit
    # relation (or shuffled on row keys at scale) — one narrow
    # broadcast join computes the same oov flag with zero exchanges
    # on the words side
    lex = (
        lexicon.select(F.lower(F.col("entry")).alias("normed"))
        .distinct()
        .withColumn("iv", F.lit(True))
    )
    marked = (
        normed.join(F.broadcast(lex), "normed", "left")
        .withColumn("oov", F.col("iv").isNull())
        .drop("iv")
    )
    if compound is None:
        return marked
    return marked.withColumn(
        "oov",
        F.col("oov")
        & ~F.coalesce(accepts_udf(F.col("normed"), F.col("oov")), F.lit(False)),
    )


def dehyphenate_recheck(
    marked: DataFrame, lexicon: DataFrame, compound=None, charmap=None
) -> DataFrame:
    """W6: a line-final word ending in a hyphen joins the next line's
    first word; if the joined form is in-vocabulary, unmark both.
    ``compound`` extends the joined-form check with the hunspell
    compound DP (rejoined German compounds are the canonical case)."""
    w_line = Window.partitionBy("doc_id", "line_no")
    w_doc = Window.partitionBy("doc_id").orderBy("line_no", "word_idx")
    df = marked.withColumn("max_idx", F.max("word_idx").over(w_line))
    df = df.withColumn(
        "next_word",
        F.lead("word").over(w_doc),
    ).withColumn(
        "next_line",
        F.lead("line_no").over(w_doc),
    )
    hyph = (
        (F.col("word_idx") == F.col("max_idx"))
        & F.col("next_word").isNotNull()
        & (F.col("next_line") == F.col("line_no") + 1)
        & F.substring(F.col("word"), -1, 1).isin(*HYPHENS)
    )
    joined = F.concat(
        F.expr("substring(word, 1, length(word) - 1)"), F.col("next_word")
    )
    # normalize the rejoined candidate EXACTLY like mark_words does a
    # single word: charmap + ICONV (when the .aff has one) + asword —
    # otherwise an ICONV-mapped char in the joined form would miss both
    # the lexicon join and the compound rescue while its unhyphenated
    # twin matches
    accepts_udf = None
    if compound is not None:
        iconv_udf, accepts_udf = _compound_udfs(marked.sparkSession, compound)
        if compound.iconv:
            joined = iconv_udf(joined)
    cand = df.withColumn(
        "joined", F.when(hyph, F.lower(asword_col(joined, charmap)))
    )
    # one broadcast LEFT join computes the joined-form IV flag in place
    # (the old semi-join + two key-back-joins shuffled corpus-sized hit
    # relations at scale); the continuation row is simply the NEXT row
    # in doc order, so its unmark is a lag() over the window the lead()
    # above already paid for — zero extra exchanges
    lex = (
        lexicon.select(F.lower(F.col("entry")).alias("joined"))
        .distinct()
        .withColumn("lex_iv", F.lit(True))
    )
    out = cand.join(F.broadcast(lex), "joined", "left")
    dehyph_iv = F.col("joined").isNotNull() & F.col("lex_iv").isNotNull()
    if accepts_udf is not None:
        dehyph_iv = dehyph_iv | (
            F.col("joined").isNotNull()
            & F.coalesce(
                accepts_udf(F.col("joined"), F.col("joined").isNotNull()),
                F.lit(False),
            )
        )
    out = out.withColumn("dehyph_iv", dehyph_iv).withColumn(
        "cont_iv", F.coalesce(F.lag("dehyph_iv").over(w_doc), F.lit(False))
    )
    keep = ["doc_id", "line_no", "word_idx", "word", "normed", "oov"]
    if "offset" in marked.columns:
        keep.insert(4, "offset")  # pass through for span write-back
    return out.withColumn(
        "oov",
        F.col("oov") & ~F.col("dehyph_iv") & ~F.col("cont_iv"),
    ).select(*keep)


def mark_counters(marked: DataFrame) -> DataFrame:
    """A7: corpus counters — total candidates and nonmatches."""
    return marked.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.col("oov").cast("long")).alias("n_oov"),
        F.round(F.avg(F.col("oov").cast("double")), 6).alias("oov_rate"),
    )
