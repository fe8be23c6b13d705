"""PAGE-XML → span-table ingest (S1/S2 front door for real reference
users).

The reference consumes PAGE-XML workspaces: it walks `Page →
TextRegion (recursive, reading-order) → TextLine → Word → Glyph`,
collecting per-element `TextEquiv` (Unicode, conf, alternatives) and
injecting artificial whitespace elements — a space between words, a
newline per line, an empty-glyph gap — marked `index=-1`
(/root/reference/ocrd_cor_asv_ann/wrapper/transcode.py:161-234
`_page_get_line_sequences_at`). Reading order is a recursive group
structure flattened at transcode.py:744-763 (`page_get_reading_order`);
`textLineOrder=bottom-to-top` reverses a region's lines
(transcode.py:693-696) and `readingDirection=right-to-left` reverses a
line's words and a word's glyphs (transcode.py:699-713, attributes
inherited down the hierarchy).

Spark shape: the FILE is the row grain — a ``binaryFile`` scan yields
one row per PAGE-XML file, an Arrow batch parses it with stdlib
ElementTree (pure Python, no lxml dependency) into the engine's
interleaved span table (`schema.SPANS_SCHEMA`) plus the two optional
confidence channels of `correct_pipeline`:

- ``conf`` (doc_id, line_no, conf: array<float>) — per-char first-
  TextEquiv confidence (prob-line encoding, SURVEY §1.2 enc 2);
- ``confmat`` (CONFMAT_SCHEMA) — per element one chunk of ALL
  TextEquiv alternatives (encoding 3, the reference flagship's
  multi-TextEquiv input, transcode.py:236-277; empty alternatives are
  gap-repaired to GAP exactly as transcode.py:266-273).

One scan produces all three frames (`read_pagexml_channels`): the
parsed per-doc row carries spans + line channels, and the channels are
pure projections (posexplode) — no second read of the XML. At 100 TB
the scan parallelizes over files (Spark's binaryFile splits at file
grain, the natural unit here since one page is one small XML) and
everything downstream is the ordinary span pipeline.

``media_ref`` carries the element anchor the reference uses as join
key — `@id` plus `Coords/@points` (wrapper/evaluate.py:326-337
`_linekey`) — so corrected spans stay joinable back to the source
geometry. Offsets are ordinal span indices (the engine's convention,
sources/spans.py build_spans).
"""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import CONFMAT_SCHEMA, SPANS_SCHEMA

GAP = "\a"  # reference lib/seq2seq.py:11 — reserved gap-repair char

_RTL = "right-to-left"
_BTT = "bottom-to-top"


def _local(tag) -> str:
    return tag.rsplit("}", 1)[-1] if isinstance(tag, str) else ""


def _kids(el, name: str) -> list:
    # tag-suffix compare instead of _local(): the rsplit allocated a
    # list + string per ELEMENT per helper call (~190k/1000 pages,
    # ~20% of parse CPU profiled); endswith is one C call and keeps the
    # same any-namespace semantics ('{ns}Word' and bare 'Word' match)
    sfx = "}" + name
    return [
        c for c in el
        if isinstance(c.tag, str) and (c.tag.endswith(sfx) or c.tag == name)
    ]


def _first(el, name: str):
    sfx = "}" + name
    for c in el:
        if isinstance(c.tag, str) and (c.tag.endswith(sfx) or c.tag == name):
            return c
    return None


def _textequivs(el) -> list[tuple[str, float]]:
    """Element → [(unicode, conf)], ordered by TextEquiv/@index when
    present (stable on document order otherwise) — PAGE allows the
    alternatives serialized in any order, and the reference's
    match_on=index mode keys on the ATTRIBUTE (evaluate.py:155-160),
    with index 0 / the first equiv as primary."""
    tes = []
    for pos, te in enumerate(_kids(el, "TextEquiv")):
        uni = _first(te, "Unicode")
        text = uni.text if uni is not None and uni.text is not None else ""
        conf = te.get("conf")
        idx = te.get("index")
        # malformed @index raises like any other torn attribute — the
        # scan's on_error policy decides (fail loudly / skip visibly)
        idx = int(idx) if idx is not None else None
        tes.append(
            (idx if idx is not None else pos, pos, text,
             float(conf) if conf is not None else 1.0)
        )
    if len(tes) <= 1:  # the overwhelmingly common single-equiv element:
        return [(text, conf) for _, _, text, conf in tes]  # nothing to sort
    tes.sort(key=lambda t: (t[0], t[1]))
    return [(text, conf) for _, _, text, conf in tes]


def _anchor(el) -> str | None:
    """@id + Coords/@points — the reference's line/word join key
    (evaluate.py:326-337)."""
    coords = _first(el, "Coords")
    points = coords.get("points") if coords is not None else None
    eid = el.get("id")
    if eid is None and points is None:
        return None
    return f"coords://{eid or ''}/{points or ''}"


def _reading_order_positions(page_el) -> dict[str, int]:
    """Flatten the ReadingOrder group tree into regionRef → position
    (transcode.py:744-763 semantics: ordered groups sort children by
    @index, unordered keep document order; groups recurse)."""
    ro = _first(page_el, "ReadingOrder")
    order: list[str] = []

    def walk(group) -> None:
        name = _local(group.tag)
        refs = [
            c
            for c in group
            if _local(c.tag)
            in (
                "RegionRefIndexed",
                "OrderedGroupIndexed",
                "UnorderedGroupIndexed",
                "RegionRef",
                "OrderedGroup",
                "UnorderedGroup",
            )
        ]
        if name.startswith("OrderedGroup"):
            refs.sort(key=lambda c: int(c.get("index", "0")))
        for c in refs:
            rid = c.get("regionRef")
            if rid:
                order.append(rid)
            if _local(c.tag) not in ("RegionRef", "RegionRefIndexed"):
                walk(c)

    if ro is not None:
        for g in ro:
            walk(g)
    return {rid: i for i, rid in enumerate(order)}


def _ordered_text_regions(parent, ro_pos: dict[str, int]) -> list:
    """Depth-first text regions under ``parent``: siblings referenced by
    the reading order come first in RO position, the rest keep document
    order (get_AllRegions(classes=['Text'], order='reading-order')
    behavior); nested TextRegions recurse after their parent."""
    sibs = _kids(parent, "TextRegion")
    in_ro = sorted(
        (r for r in sibs if r.get("id") in ro_pos), key=lambda r: ro_pos[r.get("id")]
    )
    rest = [r for r in sibs if r.get("id") not in ro_pos]
    out = []
    for r in in_ro + rest:
        out.append(r)
        out.extend(_ordered_text_regions(r, ro_pos))
    return out


def parse_page_xml(
    doc_id: str, data: bytes, level: str = "word", with_channels: bool = True
) -> dict:
    """Pure: one PAGE-XML document → the engine's interleaved span list
    plus per-line confidence channels.

    Returns ``{"spans": [(kind, text, media_ref, offset)],
    "line_confs": [[float per char]], "line_confmats": [[chunk]]}``
    where chunk = [(alt, p)] over the element's TextEquiv alternatives
    (empty alternatives gap-repaired to GAP, transcode.py:266-273).
    Mirrors `_page_get_line_sequences_at` (transcode.py:161-234): a
    space between word/glyph groups, a newline per line, empty lines
    (newline only) dropped; `textLineOrder`/`readingDirection` applied
    per transcode.py:693-713.
    """
    if level not in ("line", "word", "glyph"):
        raise ValueError(f"level must be line|word|glyph, not {level!r}")
    root = ET.fromstring(data)
    page = root if _local(root.tag) == "Page" else _first(root, "Page")
    if page is None:
        # a well-formed non-PAGE .xml (e.g. a mets.xml sidecar swept up
        # by the *.xml filter): a spanless doc with EVERY channel key —
        # a missing key here crashes _parse_files outside its
        # try/except, even under on_error=skip
        return {"spans": [], "span_confs": [], "line_confs": [],
                "line_confmats": [], "line_baselines": []}
    ro_pos = _reading_order_positions(page)
    page_tlo = page.get("textLineOrder")
    page_rd = page.get("readingDirection")

    # per line: list of (kind, text, media_ref, alternatives)
    lines: list[list[tuple[str, str, str | None, list[tuple[str, float]]]]] = []
    # Baseline/@points per KEPT line — the evaluate/join processors'
    # `match-on=baseline` key (join.py:63-66; falls back to Coords)
    baselines: list[str] = []

    def element_entry(kind: str, el) -> tuple | None:
        tes = _textequivs(el)
        if not tes:
            return None
        alts = [(t if t else GAP, c) for t, c in tes]
        return (kind, tes[0][0], _anchor(el), alts)

    for region in _ordered_text_regions(page, ro_pos):
        region_rd = region.get("readingDirection") or page_rd
        tlines = _kids(region, "TextLine")
        if (region.get("textLineOrder") or page_tlo) == _BTT:
            tlines = list(reversed(tlines))
        for tline in tlines:
            line_rd = tline.get("readingDirection") or region_rd
            seq: list[tuple] = []
            if level == "line":
                entry = element_entry("line", tline)
                if entry is not None:
                    seq.append(entry)
            else:
                words = _kids(tline, "Word")
                if not words:
                    continue  # no line at all (reference: no EOL either)
                if line_rd == _RTL:
                    words = list(reversed(words))
                any_word = False
                for word in words:
                    if level == "word":
                        entry = element_entry("word", word)
                        if entry is None:
                            continue  # no inter-word space either
                        seq.append(entry)
                    else:
                        glyphs = _kids(word, "Glyph")
                        if not glyphs:
                            continue  # no inter-word space either
                        if (word.get("readingDirection") or line_rd) == _RTL:
                            glyphs = list(reversed(glyphs))
                        for glyph in glyphs:
                            entry = element_entry("glyph", glyph)
                            if entry is None:
                                # TextEquiv-less glyph = gap
                                # (transcode.py:219-224)
                                entry = ("glyph", "", _anchor(glyph),
                                         [(GAP, 1.0)])
                            seq.append(entry)
                    any_word = True
                    seq.append(("space", " ", None, [(" ", 1.0)]))
                if any_word:
                    seq.pop()  # no trailing inter-word space
            seq.append(("newline", "\n", None, [("\n", 1.0)]))
            if len(seq) > 1:  # drop empty lines (transcode.py:234)
                lines.append(seq)
                bl = _first(tline, "Baseline")
                baselines.append(
                    (bl.get("points") or "") if bl is not None else ""
                )

    spans: list[tuple[str, str, str | None, int]] = []
    span_confs: list[float] = []
    line_confs: list[list[float]] = []
    line_confmats: list[list[list[tuple[str, float]]]] = []
    off = 0
    for seq in lines:
        if not with_channels:
            # spans-only consumers (read_pagexml → spans_of) skip the
            # per-character confidence vectors and the alternatives
            # channel entirely — building + Arrow-shipping them for
            # every page measurably dominates the spans-only scan
            for kind, text, ref, alts in seq:
                spans.append((kind, text, ref, off))
                span_confs.append(alts[0][1])
                off += 1
            continue
        confs: list[float] = []
        chunks: list[list[tuple[str, float]]] = []
        for kind, text, ref, alts in seq:
            spans.append((kind, text, ref, off))
            span_confs.append(alts[0][1])
            off += 1
            confs.extend([alts[0][1]] * len(text))
            chunks.append(alts)
        line_confs.append(confs)
        line_confmats.append(chunks)
    return {
        "spans": spans,
        "span_confs": span_confs,
        "line_confs": line_confs,
        "line_confmats": line_confmats,
        "line_baselines": baselines,
    }


_FULL_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "span_confs array<float>, "
    "line_confs array<array<float>>, line_confmats string, "
    "line_baselines array<string>"
)


def _parse_files(level: str, on_error: str = "fail", with_channels: bool = True):
    import pandas as pd

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                name = path[len("file:"):] if path.startswith("file:") else path
                doc_id = name.rsplit("/", 1)[-1]
                for ext in (".xml", ".page"):
                    if doc_id.endswith(ext):
                        doc_id = doc_id[: -len(ext)]
                try:
                    parsed = parse_page_xml(
                        doc_id, bytes(content), level=level,
                        with_channels=with_channels,
                    )
                except Exception as exc:
                    # not just ParseError: malformed ATTRIBUTES raise
                    # too (float(conf)="0,95", int(index)="1a") — a torn
                    # page is a torn page either way. (level is
                    # validated before the scan, so a config error can
                    # never be swallowed here.)
                    if on_error == "fail":
                        raise ValueError(
                            f"malformed PAGE-XML {name}: {exc}") from exc
                    # on_error="skip": emit a spanless row — the bad
                    # page stays VISIBLE (doc_id present, zero spans)
                    # instead of silently vanishing from the corpus
                    rows.append({"doc_id": doc_id, "spans": [],
                                 "span_confs": [], "line_confs": [],
                                 "line_confmats": "[]",
                                 "line_baselines": []})
                    continue
                rows.append(
                    {
                        "doc_id": doc_id,
                        "spans": [
                            {"kind": k, "text": t, "media_ref": r, "offset": o}
                            for k, t, r, o in parsed["spans"]
                        ],
                        "span_confs": parsed["span_confs"],
                        "line_confs": parsed["line_confs"],
                        "line_baselines": parsed["line_baselines"],
                        # doubly-nested struct arrays trip Arrow's pandas
                        # path (see correct_pipeline's confmat JSON note)
                        "line_confmats": json.dumps(
                            [
                                [
                                    [{"alt": a, "p": p} for a, p in chunk]
                                    for chunk in line
                                ]
                                for line in parsed["line_confmats"]
                            ]
                        ),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "spans", "span_confs", "line_confs",
                         "line_confmats", "line_baselines"],
            )

    return parse


_SPANS_ONLY_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _parse_files_spans_arrow(level: str, on_error: str = "fail"):
    """mapInArrow variant of ``_parse_files`` for the spans-only front
    door: the span structs are assembled as flat Arrow child arrays +
    a list-offsets array (``StructArray.from_arrays`` /
    ``ListArray.from_arrays``) instead of one Python dict per span fed
    through pandas' object-column conversion — at sf0.1 that is ~500k
    dicts per pass whose construction and per-field coercion dominated
    the whole parse stage (guide §4.2: hand whole batches to native
    code; the values are identical, only the container changes)."""
    import pyarrow as pa

    def parse(batches):
        fields = [
            pa.field("kind", pa.string()),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32()),
        ]
        for rb in batches:
            paths = rb.column(rb.schema.get_field_index("path")).to_pylist()
            contents = rb.column(rb.schema.get_field_index("content")).to_pylist()
            doc_ids: list[str] = []
            kinds: list[str] = []
            texts: list[str] = []
            refs: list[str | None] = []
            offs: list[int] = []
            list_offsets = [0]
            for path, content in zip(paths, contents):
                name = path[len("file:"):] if path.startswith("file:") else path
                doc_id = name.rsplit("/", 1)[-1]
                for ext in (".xml", ".page"):
                    if doc_id.endswith(ext):
                        doc_id = doc_id[: -len(ext)]
                try:
                    parsed = parse_page_xml(
                        doc_id, content, level=level, with_channels=False
                    )
                except Exception as exc:
                    if on_error == "fail":
                        raise ValueError(
                            f"malformed PAGE-XML {name}: {exc}") from exc
                    doc_ids.append(doc_id)
                    list_offsets.append(len(kinds))
                    continue
                for k, t, r, o in parsed["spans"]:
                    kinds.append(k)
                    texts.append(t)
                    refs.append(r)
                    offs.append(o)
                doc_ids.append(doc_id)
                list_offsets.append(len(kinds))
            struct_arr = pa.StructArray.from_arrays(
                [
                    pa.array(kinds, pa.string()),
                    pa.array(texts, pa.string()),
                    pa.array(refs, pa.string()),
                    pa.array(offs, pa.int32()),
                ],
                fields=fields,
            )
            spans_arr = pa.ListArray.from_arrays(
                pa.array(list_offsets, pa.int32()), struct_arr
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, pa.string()), spans_arr],
                ["doc_id", "spans"],
            )

    return parse


def read_pagexml_full(
    spark: SparkSession,
    paths: str | list[str],
    level: str = "word",
    n_partitions: int | None = None,
    on_error: str = "fail",
    channels: bool = True,
) -> DataFrame:
    """One binaryFile scan → (doc_id, spans, line_confs,
    line_confmats-json). Cache this and project the three channel
    frames from it — the XML is parsed exactly once.

    ``channels=False`` (used by the spans-only ``read_pagexml`` front
    door) returns the 2-column ``(doc_id, spans)`` frame instead,
    parsed straight into Arrow: the per-character confidence vectors
    and the JSON alternatives channel are neither built nor shipped —
    pass only what downstream consumes (guide §4.1).

    ``n_partitions`` coalesces the scan (narrow, no shuffle) before
    parsing: binaryFile gives one split per file, and a corpus of many
    tiny page files would otherwise schedule one task per page
    (measured: 500 tasks for 500 × ~3 KB). Defaults to 2× parallelism
    (a coalesce never raises the scan's own count) — at real scale
    (millions of pages on 1000 executors) the default keeps every core
    busy while amortizing task launch over ~file_count/2k pages each.

    Paths that are a single-directory glob ("dir/*.xml") or a bare
    directory are rewritten to a directory listing with
    ``pathGlobFilter``: Hadoop's glob expansion does a per-match
    status round trip (measured 10.5 s vs 0.45 s for 5000 local
    files — and on an object store each round trip is a network
    call).

    ``on_error``: "fail" (default) raises on a malformed page file —
    correctness stays visible; "skip" keeps the corpus job alive on a
    100 TB crawl where a handful of torn pages are expected, emitting a
    spanless row per bad file (the page stays VISIBLE — countable as
    `size(spans) = 0` — rather than silently vanishing)."""
    import os
    import re

    def _norm(p: str) -> tuple[str, str | None]:
        m = re.match(r"^(?P<dir>[^*?\[\]]+)/(?P<pat>\*[^/]*)$", p)
        if m:
            return m.group("dir"), m.group("pat")
        if "*" not in p and "?" not in p and os.path.isdir(p):
            return p, "*.xml"
        return p, None

    if level not in ("line", "word", "glyph"):
        raise ValueError(f"level must be line|word|glyph, not {level!r}")
    if on_error not in ("fail", "skip"):
        raise ValueError("on_error must be 'fail' or 'skip'")
    path_list = [paths] if isinstance(paths, str) else list(paths)
    normed = [_norm(p) for p in path_list]
    # group by pathGlobFilter so MIXED inputs (a directory next to an
    # explicit file / differing globs) each keep their own filter —
    # falling back to one unfiltered load would ingest a directory's
    # non-XML sidecars (METS, json) and fail on them
    by_pat: dict[str | None, list[str]] = {}
    for d, pat in normed:
        by_pat.setdefault(pat, []).append(d)
    frames = []
    for pat, dirs in by_pat.items():
        reader = spark.read.format("binaryFile")
        if pat is not None:
            reader = reader.option("pathGlobFilter", pat)
        frames.append(reader.load(dirs).select("path", "content"))
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)
    if n_partitions is None:
        # 2× parallelism: enough waves for load balancing across uneven
        # page files, without paying per-task Arrow/scheduling overhead
        # 4× over (A/B at sf0.1, 5000 files: ×1 1.12 s, ×2 1.24 s,
        # ×4 1.65 s, ×8 1.98 s — ×1 leaves no straggler headroom)
        n_partitions = spark.sparkContext.defaultParallelism * 2
    df = df.coalesce(n_partitions)
    if not channels:
        # spans-only consumers (read_pagexml) get a (doc_id, spans)
        # frame built straight as Arrow arrays — no channel columns,
        # no per-span Python dicts (see _parse_files_spans_arrow)
        return df.mapInArrow(
            _parse_files_spans_arrow(level, on_error), schema=_SPANS_ONLY_SCHEMA
        )
    return df.mapInPandas(
        _parse_files(level, on_error, with_channels=channels), schema=_FULL_SCHEMA
    )


def spans_of(full: DataFrame) -> DataFrame:
    # (no .to(SPANS_SCHEMA): it enforces non-null markers the scan
    # cannot prove; the shape is identical)
    return full.select("doc_id", "spans")


def conf_channel(full: DataFrame) -> DataFrame:
    """(doc_id, line_no, conf array<float>) — prob-line channel."""
    return full.select(
        "doc_id", F.posexplode("line_confs").alias("line_no", "conf")
    ).withColumn("line_no", F.col("line_no").cast("int"))


def confmat_channel(full: DataFrame) -> DataFrame:
    """(doc_id, line_no, confmat) in CONFMAT_SCHEMA — alternatives
    channel (encoding 3)."""
    cm_type = CONFMAT_SCHEMA["confmat"].dataType
    per_line = F.from_json(
        "line_confmats",
        f"array<{cm_type.simpleString()}>",
    )
    return full.select(
        "doc_id", F.posexplode(per_line).alias("line_no", "confmat")
    ).withColumn("line_no", F.col("line_no").cast("int"))


def read_pagexml(
    spark: SparkSession, paths: str | list[str], level: str = "word", **kw
) -> DataFrame:
    """PAGE-XML files → span table (SPANS_SCHEMA). Extra kwargs
    (``on_error``, ``n_partitions``) forward to read_pagexml_full.
    Spans-only: the confidence/alternatives channels are neither built
    nor shipped (``channels=False``)."""
    kw.setdefault("channels", False)
    return spans_of(read_pagexml_full(spark, paths, level=level, **kw))


def read_pagexml_channels(
    spark: SparkSession, paths: str | list[str], level: str = "word", **kw
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """PAGE-XML files → (spans_df, conf_df, confmat_df) from ONE parsed
    scan (cached). Extra kwargs forward to read_pagexml_full."""
    full = read_pagexml_full(spark, paths, level=level, **kw).cache()
    return spans_of(full), conf_channel(full), confmat_channel(full)


def line_table(full: DataFrame) -> DataFrame:
    """level='line' full frame → one row per TextLine:
    ``(doc_id, line_idx, line_ref, line_id, text, confs)``.

    ``line_id`` is the TextLine @id recovered from the ``coords://``
    anchor — the reference's cross-fileGrp match key (align.py:109-111,
    join.py:85 match dicts keyed on line.id); ``line_idx`` preserves
    reading order within the page; ``confs`` is the per-character
    confidence vector (the trailing artificial-newline entry of the
    line_confs channel stripped). Pure column ops — the XML was parsed
    once in the scan."""
    z = full.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                F.filter("spans", lambda s: s["kind"] == F.lit("line")).alias(
                    "ls"
                ),
                F.col("line_confs").alias("cf"),
                F.col("line_baselines").alias("bl"),
            )
        ).alias("line_idx", "z"),
    )
    coords_col = F.regexp_extract(
        "z.ls.media_ref", r"^coords://[^/]*/(.*)$", 1
    )
    return z.select(
        "doc_id",
        F.col("line_idx").cast("int"),
        F.col("z.ls.media_ref").alias("line_ref"),
        F.regexp_extract(
            "z.ls.media_ref", r"^coords://([^/]*)/", 1
        ).alias("line_id"),
        # Coords/@points — the `match-on=coords` join key
        # (join.py:60-68, evaluate.py match_on)
        coords_col.alias("line_coords"),
        # Baseline/@points, falling back to Coords exactly like the
        # reference when a line has no Baseline (join.py:63-66)
        F.when(F.col("z.bl") != "", F.col("z.bl"))
        .otherwise(coords_col)
        .alias("line_baseline"),
        F.col("z.ls.text").alias("text"),
        F.slice(
            "z.cf", 1, F.greatest(F.size("z.cf") - 1, F.lit(0))
        ).alias("confs"),
    )


def alt_table(full: DataFrame) -> DataFrame:
    """level='line' full frame → one row per TextLine TextEquiv
    ALTERNATIVE: ``(doc_id, line_idx, line_id, alt_index, text,
    conf)``. This is the evaluate processor's ``match_on=index`` axis
    (wrapper/evaluate.py:155-160: multiple TextEquiv/@index within ONE
    fileGrp, index 0 = ground truth) — the alternatives ride the
    line_confmats channel of the same single scan."""
    cm = F.from_json(
        "line_confmats",
        "array<array<array<struct<alt:string,p:double>>>>",
    )
    z = full.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                F.filter("spans", lambda s: s["kind"] == F.lit("line")).alias(
                    "ls"
                ),
                cm.alias("cm"),
            )
        ).alias("line_idx", "z"),
    )
    lines = z.select(
        "doc_id",
        F.col("line_idx").cast("int"),
        F.regexp_extract(
            "z.ls.media_ref", r"^coords://([^/]*)/", 1
        ).alias("line_id"),
        # chunk 0 of the line's confmat = the line element's TextEquiv
        # alternatives (chunk 1 is the artificial newline)
        F.coalesce(F.col("z.cm").getItem(0), F.array()).alias("alts"),
    )
    return lines.select(
        "doc_id",
        "line_idx",
        "line_id",
        F.posexplode("alts").alias("alt_index", "a"),
    ).select(
        "doc_id",
        "line_idx",
        "line_id",
        F.col("alt_index").cast("int"),
        # empty alternatives were gap-repaired to GAP for the tensor
        # channel; undo for the text axis
        F.replace(F.col("a.alt"), F.lit(GAP), F.lit("")).alias("text"),
        F.col("a.p").alias("conf"),
    )


# --------------------------------------------------------------------------
# Deterministic synthetic PAGE-XML (tests + oracle fixture): text in →
# a page exercising ReadingOrder groups, nested regions, RTL/BTT
# direction attributes, multi-TextEquiv alternatives and glyphs — built
# so that parsing at any level reproduces the logical text exactly.
# --------------------------------------------------------------------------

_NS = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"


def _key_int(s: str) -> int:
    import hashlib

    return int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big")


def _sub(parent, name: str, **attrs):
    el = ET.SubElement(parent, f"{{{_NS}}}{name}")
    for k, v in attrs.items():
        el.set(k, str(v))
    return el


def _add_te(
    parent,
    uni: str,
    conf: float,
    index: int | None = None,
    comments: str | None = None,
) -> None:
    attrs = {"conf": f"{conf:.4f}"}
    if index is not None:
        attrs["index"] = str(index)
    if comments is not None:
        attrs["comments"] = comments
    te = _sub(parent, "TextEquiv", **attrs)
    _sub(te, "Unicode").text = uni


def synth_page_xml(doc_id: str, text: str, words_per_line: int = 7) -> bytes:
    """Pure: document text → PAGE-XML bytes. Lines of ``words_per_line``
    words are distributed over 2-3 regions; the XML element order of the
    regions is rotated while a ReadingOrder OrderedGroup (with one
    nested ordered subgroup on some docs) records the true order; some
    docs get `readingDirection=right-to-left` (words serialized
    reversed) or `textLineOrder=bottom-to-top` (lines serialized
    reversed) so the parser's direction handling must undo it; ~1 in 5
    words carries a second lower-confidence TextEquiv alternative; every
    word also carries per-char Glyphs whose concatenation equals the
    word, and each line a line-level TextEquiv equal to the
    space-joined words (the reference's hierarchy-consistency
    invariant, /root/reference/tests/test_all.py:94-104)."""
    h = _key_int(doc_id)
    rtl = h % 5 == 0
    btt = h % 7 == 0
    words = text.split()
    lines = [
        words[i : i + words_per_line] for i in range(0, len(words), words_per_line)
    ]
    n_regions = max(1, min(len(lines), 2 + h % 2))
    # contiguous line blocks per region: reading order over regions then
    # lines reproduces the document's line order exactly
    per = (len(lines) + n_regions - 1) // n_regions
    per_region: list[list[list[str]]] = [
        lines[i * per : (i + 1) * per] for i in range(n_regions)
    ]
    per_region = [r for r in per_region if r]
    n_regions = len(per_region)

    def conf_of(tag: str) -> float:
        return round(0.5 + (_key_int(f"{doc_id}:{tag}") % 50) / 100.0, 2)

    E = ET.Element
    sub, add_te = _sub, _add_te

    root = E(f"{{{_NS}}}PcGts")
    page = sub(root, "Page", imageFilename=f"{doc_id}.png",
               imageWidth=1000, imageHeight=1400)
    if rtl:
        page.set("readingDirection", _RTL)
    if btt:
        page.set("textLineOrder", _BTT)
    ro = sub(page, "ReadingOrder")
    og = sub(ro, "OrderedGroup", id=f"ro_{doc_id}")
    region_ids = [f"r{doc_id}_{i}" for i in range(n_regions)]
    if n_regions >= 3 and h % 3 == 0:
        # nested ordered subgroup for the last two regions
        sub(og, "RegionRefIndexed", index=0, regionRef=region_ids[0])
        sug = sub(og, "OrderedGroupIndexed", index=1, id=f"ro_{doc_id}_sub")
        for j, rid in enumerate(region_ids[1:]):
            sub(sug, "RegionRefIndexed", index=j, regionRef=rid)
    else:
        for i, rid in enumerate(region_ids):
            sub(og, "RegionRefIndexed", index=i, regionRef=rid)

    # serialize regions rotated: XML document order != reading order
    rot = h % n_regions if n_regions else 0
    order = list(range(rot, n_regions)) + list(range(0, rot))
    for ri in order:
        region = sub(page, "TextRegion", id=region_ids[ri])
        coords = sub(region, "Coords")
        coords.set("points", f"0,{ri * 400} 1000,{ri * 400 + 380}")
        rlines = per_region[ri]
        serialized = list(reversed(rlines)) if btt else rlines
        for li_s, ln_words in enumerate(serialized):
            li = len(serialized) - 1 - li_s if btt else li_s
            lid = f"{region_ids[ri]}_l{li}"
            tline = sub(region, "TextLine", id=lid)
            sub(tline, "Coords", points=f"0,{li * 40} 1000,{li * 40 + 38}")
            ser_words = list(reversed(ln_words)) if rtl else ln_words
            for wi_s, w in enumerate(ser_words):
                wi = len(ser_words) - 1 - wi_s if rtl else wi_s
                wid = f"{lid}_w{wi}"
                word = sub(tline, "Word", id=wid)
                sub(word, "Coords", points=f"{wi * 100},0 {wi * 100 + 90},38")
                gl_chars = list(reversed(w)) if rtl else list(w)
                for gi_s, ch in enumerate(gl_chars):
                    gi = len(gl_chars) - 1 - gi_s if rtl else gi_s
                    glyph = sub(word, "Glyph", id=f"{wid}_g{gi}")
                    add_te(glyph, ch, conf_of(f"{wid}:g{gi}"), index=0)
                wconf = conf_of(wid)
                add_te(word, w, wconf, index=0)
                if _key_int(wid) % 5 == 0:
                    # second, lower-confidence alternative
                    alt = w.swapcase() if w.swapcase() != w else w + "~"
                    add_te(word, alt, round(max(0.05, wconf - 0.3), 2), index=1)
            add_te(tline, " ".join(ln_words),
                   conf_of(lid), index=0)
    return ET.tostring(root, encoding="utf-8", xml_declaration=True)


def synth_pagexml_corpus(
    spark: SparkSession, sf_dir: str, out_dir: str, noisy: bool = False,
    words_per_line: int = 7,
) -> int:
    """Materialize a deterministic PAGE-XML corpus (one file per
    document of the sf documents table, same text source as
    synth_spans) under ``out_dir``. Distributed write: each task writes
    its partition's files. Returns the number of files written."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def write_part(batches):
        import pandas as pd

        from ..corelib.noise import degrade_reversible

        n = 0
        for pdf in batches:
            for doc_id, text in zip(pdf["doc_id"].astype(str), pdf["text"]):
                if noisy:
                    text = " ".join(
                        degrade_reversible(w, f"{doc_id}:w{i}")
                        for i, w in enumerate(text.split())
                    )
                data = synth_page_xml(doc_id, text, words_per_line)
                with open(os.path.join(out_dir, f"{doc_id}.xml"), "wb") as f:
                    f.write(data)
                n += 1
        yield pd.DataFrame({"n": [n]})

    parts = docs.mapInPandas(write_part, schema="n long")
    return sum(r.n for r in parts.collect())


# --------------------------------------------------------------------------
# Output side: spans → PAGE-XML (the reference's processors EMIT corrected
# PAGE-XML — wrapper/transcode.py writes corrected TextEquivs back into
# the page DOM, keeping geometry constant, transcode.py:550-628; this is
# the sink a reference user needs to feed corrected output back into an
# OCR-D workflow).
# --------------------------------------------------------------------------


def _anchor_parts(media_ref: str | None) -> tuple[str | None, str | None]:
    """Invert _anchor: 'coords://{id}/{points}' → (id, points)."""
    if not media_ref or not media_ref.startswith("coords://"):
        return None, None
    rest = media_ref[len("coords://"):]
    eid, _, points = rest.partition("/")
    return eid or None, points or None


def render_page_xml(
    doc_id: str,
    spans: list[tuple[str, str, str | None, int]],
    confs: list[float] | None = None,
    image_filename: str | None = None,
    comments: "list[str | None] | None" = None,
) -> bytes:
    """Ordered span list → PAGE-XML bytes (one TextRegion; lines split
    at newline spans; word/glyph spans regrouped into Word/Glyph
    elements with artificial space spans dropped — they are implicit in
    PAGE; 'line'-kind spans become line-level TextEquiv only). Element
    ids and Coords are recovered from ``coords://`` anchors when
    present, else synthesized; ``confs`` (one float per span, e.g. the
    pipeline's out_confs) become TextEquiv/@conf. Line-level TextEquiv
    is the concatenation of the line's span texts — the reference's
    hierarchy-consistency contract (page_update_higher_textequiv_levels,
    transcode.py:630-763).

    Id/Coords recovery is per element grain: a word span's anchor
    restores that Word's id and Coords (likewise glyph spans for
    Glyphs, 'line' spans for TextLines). A TextLine reconstructed from
    WORD spans gets a synthesized id and no Coords — a word's polygon
    is NOT the line's, and a wrong geometry is worse than none."""
    root = ET.Element(f"{{{_NS}}}PcGts")
    page = _sub(root, "Page",
                imageFilename=image_filename or f"{doc_id}.png")
    region = _sub(page, "TextRegion", id=f"{doc_id}_r0")

    def add_coords(parent, points: str | None):
        if points:
            _sub(parent, "Coords", points=points)

    def ided(eid: str | None, fallback: str) -> str:
        return eid if eid else fallback

    # split into lines at newline spans (a trailing open line counts);
    # `comments` (aligned with spans, e.g. the mark processor's OOV
    # annotation) lands on word-span TextEquiv/@comments
    lines: list[list[tuple[str, str, str | None, float, str | None]]] = [[]]
    for i, (kind, text, ref, _off) in enumerate(spans):
        conf = float(confs[i]) if confs is not None and i < len(confs) else 1.0
        cmt = comments[i] if comments is not None and i < len(comments) else None
        if kind == "newline":
            lines.append([])
        else:
            lines[-1].append((kind, text, ref, conf, cmt))
    if not lines[-1]:
        lines.pop()

    for li, line_spans in enumerate(lines):
        if not line_spans:
            continue
        # line id/Coords ONLY from a line-grain anchor ('line' spans)
        line_ref = next((r for k, _, r, _, _ in line_spans if k == "line" and r),
                        None)
        lid, lpoints = _anchor_parts(line_ref)
        tline = _sub(region, "TextLine", id=ided(lid, f"{doc_id}_l{li}"))
        line_parts: list[str] = []
        # regroup word/glyph spans into Word (consecutive glyphs up to
        # a space form one word — the inverse of the parser's walk)
        wi = 0
        cur_glyphs: list[tuple[str, str | None, float]] = []

        def flush_glyph_word():
            nonlocal wi, cur_glyphs
            if not cur_glyphs:
                return
            # the word element is synthesized (glyph anchors are
            # glyph-grain); its glyphs keep their recovered ids/Coords
            word = _sub(tline, "Word", id=f"{doc_id}_l{li}_w{wi}")
            for gi, (gtext, gref, gconf) in enumerate(cur_glyphs):
                gid, gpoints = _anchor_parts(gref)
                glyph = _sub(
                    word, "Glyph",
                    id=ided(gid, f"{doc_id}_l{li}_w{wi}_g{gi}"))
                add_coords(glyph, gpoints)
                _add_te(glyph, gtext, gconf)
            wtext = "".join(g[0] for g in cur_glyphs)
            wconf = sum(g[2] for g in cur_glyphs) / len(cur_glyphs)
            _add_te(word, wtext, wconf)
            wi += 1
            cur_glyphs = []

        for kind, text, ref, conf, cmt in line_spans:
            if kind == "glyph":
                cur_glyphs.append((text, ref, conf))
                line_parts.append(text)
            elif kind == "word":
                flush_glyph_word()
                wid, wpoints = _anchor_parts(ref)
                word = _sub(tline, "Word",
                            id=ided(wid, f"{doc_id}_l{li}_w{wi}"))
                add_coords(word, wpoints)
                _add_te(word, text, conf, comments=cmt)
                wi += 1
                line_parts.append(text)
            elif kind == "space":
                flush_glyph_word()
                line_parts.append(text)
            elif kind == "line":
                line_parts.append(text)
            # media spans carry no text: dropped from the page DOM
        flush_glyph_word()
        add_coords(tline, lpoints)
        line_confs_ = [c for _, _, _, c, _ in line_spans] or [1.0]
        _add_te(tline, "".join(line_parts),
                sum(line_confs_) / len(line_confs_))
    return ET.tostring(root, encoding="utf-8", xml_declaration=True)


def write_pagexml_corpus(spans_df: DataFrame, out_dir: str) -> int:
    """Distributed span-table → PAGE-XML writer: one file per doc under
    ``out_dir`` (each task writes its partition's files — the same
    shared-filesystem discipline as synth_pagexml_corpus). When the
    frame carries a ``span_confs`` column (array<float> aligned with
    ``spans`` — reassemble(..., with_confs=True) emits it and the
    resumable job writes it), those confidences land in
    TextEquiv/@conf; otherwise 1.0. Returns the number of files
    written."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    has_confs = "span_confs" in spans_df.columns
    has_comments = "span_comments" in spans_df.columns

    def write_part(batches):
        import pandas as pd

        n = 0
        for pdf in batches:
            for _, row in pdf.iterrows():
                spans = [
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in row["spans"]
                ]
                confs = (
                    [float(c) for c in row["span_confs"]]
                    if has_confs and row["span_confs"] is not None
                    else None
                )
                comments = (
                    [c if c else None for c in row["span_comments"]]
                    if has_comments and row["span_comments"] is not None
                    else None
                )
                data = render_page_xml(
                    str(row["doc_id"]), spans, confs=confs, comments=comments
                )
                with open(
                    os.path.join(out_dir, f"{row['doc_id']}.xml"), "wb"
                ) as f:
                    f.write(data)
                n += 1
        yield pd.DataFrame({"n": [n]})

    parts = spans_df.mapInPandas(write_part, schema="n long")
    return sum(r.n for r in parts.collect())


def render_page_lines(
    doc_id: str,
    lines: "list[tuple[str | None, list[tuple[str, float, int | None, str | None]]]]",
) -> bytes:
    """Line-grain page with MULTIPLE TextEquivs per line → PAGE-XML
    bytes: ``lines`` is ``[(line_ref, [(text, conf, index, comments)])]``
    in reading order. This is the join processor's output shape
    (wrapper/join.py:85-106: line0.TextEquiv = chained equivs of all
    fileGrps, optionally stamped with @index / @comments) — the span
    model of render_page_xml carries exactly one text per element, so
    multi-alternative lines get their own renderer. Ids/Coords recover
    from ``coords://`` anchors like everywhere else; the first equiv is
    primary (document order = preference order, as ocrd reads it)."""
    root = ET.Element(f"{{{_NS}}}PcGts")
    page = _sub(root, "Page", imageFilename=f"{doc_id}.png")
    region = _sub(page, "TextRegion", id=f"{doc_id}_r0")
    for li, (line_ref, equivs) in enumerate(lines):
        lid, lpoints = _anchor_parts(line_ref)
        tline = _sub(region, "TextLine", id=lid or f"{doc_id}_l{li}")
        if lpoints:
            _sub(tline, "Coords", points=lpoints)
        for text, conf, index, cmt in equivs:
            _add_te(tline, text, conf, index=index, comments=cmt)
    return ET.tostring(root, encoding="utf-8", xml_declaration=True)


def write_pagexml_lines(lines_df: DataFrame, out_dir: str) -> int:
    """Distributed writer for the multi-TextEquiv line-grain frame
    ``(doc_id, lines: array<struct<line_ref, equivs: array<struct<
    text, conf, idx, comments>>>>)`` (one file per doc, tasks write
    their partitions — same discipline as write_pagexml_corpus).
    Returns the number of files written."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_part(batches):
        import pandas as pd

        n = 0
        for pdf in batches:
            for _, row in pdf.iterrows():
                lines = [
                    (
                        ln["line_ref"],
                        [
                            (
                                e["text"] or "",
                                float(e["conf"])
                                if e["conf"] is not None
                                else 1.0,
                                int(e["idx"]) if e["idx"] is not None else None,
                                e["comments"] if e["comments"] else None,
                            )
                            for e in ln["equivs"]
                        ],
                    )
                    for ln in row["lines"]
                ]
                data = render_page_lines(str(row["doc_id"]), lines)
                with open(
                    os.path.join(out_dir, f"{row['doc_id']}.xml"), "wb"
                ) as f:
                    f.write(data)
                n += 1
        yield pd.DataFrame({"n": [n]})

    parts = lines_df.mapInPandas(write_part, schema="n long")
    return sum(r.n for r in parts.collect())
