"""PAGE-XML ingest (sources/pagexml.py): parser parity with the
reference's hierarchy walk (transcode.py:161-234), reading-order
flatten (744-763), RTL/BTT direction handling (693-713), and the
hierarchy-consistency invariant of the reference's own test suite
(/root/reference/tests/test_all.py:94-104: word-level text results
concatenate to the line-level text result)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from cor_asv_ann_spark.sources.pagexml import (
    GAP,
    parse_page_xml,
    synth_page_xml,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BASE = (
    "the quick brown fox jumps over a lazy dog near the old mill by the "
    "river bank today and then some more words to force three regions in "
    "larger documents with many lines of content here"
)


def _expected_lines(text: str, wpl: int = 7) -> list[str]:
    ws = text.split()
    return [" ".join(ws[i : i + wpl]) for i in range(0, len(ws), wpl)]


def test_parse_roundtrip_pure():
    """Synth → parse reproduces the logical text at every hierarchy
    level across 40 deterministic direction/reading-order variants
    (RTL, BTT, nested ordered subgroups, rotated region serialization);
    conf aligns per char, confmat first-alternatives concat to the line
    (transcode.py:236-277 shape), offsets are dense ordinals."""
    n_rtl = n_btt = 0
    for did in map(str, range(40)):
        xml = synth_page_xml(did, BASE)
        n_rtl += b"right-to-left" in xml
        n_btt += b"bottom-to-top" in xml
        want = "\n".join(_expected_lines(BASE)) + "\n"
        for level in ("word", "glyph", "line"):
            p = parse_page_xml(did, xml, level=level)
            joined = "".join(t for _, t, _, _ in p["spans"])
            assert joined == want, (did, level)
            assert [o for *_, o in p["spans"]] == list(range(len(p["spans"])))
        p = parse_page_xml(did, xml, level="word")
        for line_text, confs, chunks in zip(
            want.split("\n")[:-1], p["line_confs"], p["line_confmats"]
        ):
            assert len(confs) == len(line_text) + 1  # incl. newline
            assert "".join(ch[0][0] for ch in chunks) == line_text + "\n"
            assert all(0.0 < c <= 1.0 for c in confs)
    # the hash-keyed variants actually occur
    assert n_rtl > 0 and n_btt > 0
    # and multi-TextEquiv alternatives too
    p = parse_page_xml("0", synth_page_xml("0", BASE), level="word")
    assert any(len(ch) > 1 for line in p["line_confmats"] for ch in line)


def test_parse_handcrafted_edge_cases():
    """Hand-written PAGE-XML pinning the walk edge cases: shuffled
    document order vs ReadingOrder, a TextEquiv-less word (skipped, no
    inter-word space — transcode.py:203-207), a TextEquiv-less glyph
    (gap repair to GAP with conf 1.0 — transcode.py:219-224 + 266-273),
    an empty line (dropped — transcode.py:234), and a region absent
    from the ReadingOrder (appended in document order)."""
    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
    xml = f"""<?xml version="1.0"?>
<PcGts xmlns="{ns}"><Page imageFilename="p.png">
  <ReadingOrder><OrderedGroup id="g">
    <RegionRefIndexed index="1" regionRef="rB"/>
    <RegionRefIndexed index="0" regionRef="rA"/>
  </OrderedGroup></ReadingOrder>
  <TextRegion id="rB"><Coords points="0,100 10,110"/>
    <TextLine id="lB"><Coords points="0,100 10,105"/>
      <Word id="wB1"><TextEquiv conf="0.8"><Unicode>second</Unicode></TextEquiv></Word>
      <Word id="wB2"><!-- no TextEquiv: skipped, no space --></Word>
      <Word id="wB3"><TextEquiv conf="0.6"><Unicode>region</Unicode></TextEquiv></Word>
      <TextEquiv conf="0.7"><Unicode>second region</Unicode></TextEquiv>
    </TextLine>
    <TextLine id="lEmpty"><!-- no words: dropped entirely --></TextLine>
  </TextRegion>
  <TextRegion id="rA"><Coords points="0,0 10,10"/>
    <TextLine id="lA">
      <Word id="wA1"><TextEquiv conf="0.9"><Unicode>first</Unicode></TextEquiv></Word>
      <TextEquiv conf="0.9"><Unicode>first</Unicode></TextEquiv>
    </TextLine>
  </TextRegion>
  <TextRegion id="rC"><!-- not in ReadingOrder: appended last -->
    <TextLine id="lC">
      <Word id="wC1"><TextEquiv><Unicode>tail</Unicode></TextEquiv></Word>
    </TextLine>
  </TextRegion>
</Page></PcGts>"""
    p = parse_page_xml("doc", xml.encode(), level="word")
    texts = [(k, t) for k, t, _, _ in p["spans"]]
    assert texts == [
        ("word", "first"), ("newline", "\n"),
        ("word", "second"), ("space", " "), ("word", "region"), ("newline", "\n"),
        ("word", "tail"), ("newline", "\n"),
    ]
    # conf defaults to 1.0 when the attribute is absent (wC1)
    assert p["line_confs"][2] == [1.0] * 5
    # line level: the empty line is dropped, and lC (no line-level
    # TextEquiv) reduces to a bare newline → dropped too
    pl = parse_page_xml("doc", xml.encode(), level="line")
    assert [(k, t) for k, t, _, _ in pl["spans"]] == [
        ("line", "first"), ("newline", "\n"),
        ("line", "second region"), ("newline", "\n")]
    refs = [r for k, _, r, _ in pl["spans"] if k == "line"]
    assert refs[0] is None or "lA" in refs[0]  # id-based anchor
    # glyph gap repair
    gxml = f"""<?xml version="1.0"?>
<PcGts xmlns="{ns}"><Page>
  <TextRegion id="r"><TextLine id="l">
    <Word id="w">
      <Glyph id="g1"><TextEquiv conf="0.5"><Unicode>a</Unicode></TextEquiv></Glyph>
      <Glyph id="g2"><!-- TextEquiv-less: gap --></Glyph>
      <Glyph id="g3"><TextEquiv conf="0.5"><Unicode>b</Unicode></TextEquiv></Glyph>
    </Word>
  </TextLine></TextRegion>
</Page></PcGts>"""
    pg = parse_page_xml("doc", gxml.encode(), level="glyph")
    assert [(k, t) for k, t, _, _ in pg["spans"]] == [
        ("glyph", "a"), ("glyph", ""), ("glyph", "b"), ("newline", "\n")]
    # the gap chunk carries GAP with conf 1.0 (transcode gap repair)
    assert pg["line_confmats"][0][1] == [(GAP, 1.0)]


def test_parse_direction_attrs_explicit():
    """readingDirection/textLineOrder undo the serialized reversal:
    RTL words (and glyphs within words) and BTT lines come back in
    logical order — the attribute inherits page → region → line →
    word exactly as transcode.py:693-713 chains the getters."""
    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
    xml = f"""<?xml version="1.0"?>
<PcGts xmlns="{ns}"><Page readingDirection="right-to-left" textLineOrder="bottom-to-top">
  <TextRegion id="r">
    <TextLine id="l2">
      <Word id="w3"><TextEquiv><Unicode>w3</Unicode></TextEquiv></Word>
    </TextLine>
    <TextLine id="l1">
      <Word id="w2"><TextEquiv><Unicode>w2</Unicode></TextEquiv></Word>
      <Word id="w1"><TextEquiv><Unicode>w1</Unicode></TextEquiv></Word>
    </TextLine>
  </TextRegion>
</Page></PcGts>"""
    p = parse_page_xml("d", xml.encode(), level="word")
    assert "".join(t for _, t, _, _ in p["spans"]) == "w1 w2\nw3\n"
    # a line-level override back to left-to-right wins over the page
    xml2 = xml.replace('<TextLine id="l1">',
                       '<TextLine id="l1" readingDirection="left-to-right">')
    p2 = parse_page_xml("d", xml2.encode(), level="word")
    assert "".join(t for _, t, _, _ in p2["spans"]) == "w2 w1\nw3\n"


def test_pagexml_spark_channels_and_pipeline(spark, tmp_path, sf_small):
    """Distributed corpus round trip: synth PAGE-XML corpus from the
    documents table → one scan → (spans, conf, confmat) channels; the
    reassembled lines equal the document text split at the line grain
    (for EVERY doc), conf aligns per char, and the confmat channel
    drives correct_pipeline's argmax corrector back to exactly the
    primary text (alternatives are strictly lower-confidence)."""
    from pyspark.sql import functions as F

    from cor_asv_ann_spark.operators.correction import (
        assemble_lines,
        confmat_argmax_corrector,
        correct_pipeline,
        spans_with_line_no,
    )
    from cor_asv_ann_spark.sources.pagexml import (
        read_pagexml_channels,
        synth_pagexml_corpus,
    )

    out = str(tmp_path / "pages")
    n = synth_pagexml_corpus(spark, sf_small, out, noisy=False)
    assert n == spark.read.parquet(f"{sf_small}/documents.parquet").count()

    spans, conf, cm = read_pagexml_channels(spark, f"{out}/*.xml", level="word")
    got = {
        (r.doc_id, r.line_no): r.t
        for r in assemble_lines(spans_with_line_no(spans))
        .select("doc_id", "line_no", F.concat_ws("", "texts").alias("t"))
        .collect()
    }
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").collect()
    want = {
        (str(d.doc_id), i): line + "\n"
        for d in docs
        for i, line in enumerate(_expected_lines(d.text))
    }
    assert got == want

    # conf channel: per-char alignment for every line
    for r in conf.collect():
        assert len(r.conf) == len(want[(r.doc_id, r.line_no)])

    # confmat channel through the pipeline: argmax == primary text
    corrected = correct_pipeline(
        spans, corrector=confmat_argmax_corrector, confmat_df=cm
    )
    got_c = {
        (r.doc_id, r.line_no): r.t
        for r in spans_with_line_no(corrected)
        .groupBy("doc_id", "line_no")
        .agg(F.concat_ws("", F.array_sort(F.collect_list(
            F.struct("offset", "text"))).getField("text")).alias("t"))
        .collect()
    }
    assert got_c == want


def test_page_to_spans_tool(tmp_path):
    """The CLI converter end-to-end: PAGE-XML files in, spans + channel
    parquet out, readable with the engine's schema."""
    import duckdb

    pages = tmp_path / "pages"
    pages.mkdir()
    for did in map(str, range(12)):
        (pages / f"{did}.xml").write_bytes(synth_page_xml(did, BASE))
    r = subprocess.run(
        [sys.executable, "tools/page_to_spans.py", "--cpus", "4",
         "--out", str(tmp_path / "spans_pq"),
         "--confmat-out", str(tmp_path / "cm_pq"),
         "--conf-out", str(tmp_path / "conf_pq"),
         str(pages)],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(r.stdout.strip().splitlines()[-1])
    assert rep["docs"] == 12
    con = duckdb.connect()
    n_lines = len(_expected_lines(BASE))
    assert con.sql(
        f"select count(*) from read_parquet('{tmp_path}/spans_pq/*.parquet')"
    ).fetchone()[0] == 12
    for ch in ("cm_pq", "conf_pq"):
        assert con.sql(
            f"select count(*) from read_parquet('{tmp_path}/{ch}/*.parquet')"
        ).fetchone()[0] == 12 * n_lines
    # spans unnest: per-doc text equals the logical text (DuckDB view —
    # the same files any external engine would read)
    got = con.sql(
        f"""select doc_id, string_agg(u.s.text, '' order by u.s.offset) t
            from read_parquet('{tmp_path}/spans_pq/*.parquet'), unnest(spans) u(s)
            group by doc_id"""
    ).df()
    want = "\n".join(_expected_lines(BASE)) + "\n"
    assert all(t == want for t in got["t"])


def test_render_page_xml_roundtrip():
    """Output side: spans → PAGE-XML → parse reproduces the exact span
    text/kind sequence at word AND glyph grain (the reference emits
    corrected PAGE-XML — transcode.py writes TextEquivs back into the
    DOM keeping geometry, 550-628); recovered Coords anchors survive
    one full cycle, and the written line-level TextEquiv equals the
    concatenation of its words (hierarchy consistency in our OWN
    output)."""
    from cor_asv_ann_spark.sources.pagexml import (
        parse_page_xml,
        render_page_xml,
    )

    for did in map(str, range(8)):
        src = synth_page_xml(did, BASE)
        for level in ("word", "glyph", "line"):
            p = parse_page_xml(did, src, level=level)
            rendered = render_page_xml(did, p["spans"])
            p2 = parse_page_xml(did, rendered, level=level)
            assert [(k, t) for k, t, _, _ in p2["spans"]] == [
                (k, t) for k, t, _, _ in p["spans"]], (did, level)
        # glyph-grain render preserves per-glyph structure: a glyph
        # parse of a word-grain render has no Glyph elements, so word
        # grain re-parsed at glyph level must yield nothing
        pw = parse_page_xml(did, src, level="word")
        rendered_w = render_page_xml(did, pw["spans"])
        assert parse_page_xml(did, rendered_w, level="glyph")["spans"] == []
    # conf plumb-through: per-span confs land as TextEquiv/@conf
    p = parse_page_xml("7", synth_page_xml("7", "one two"), level="word")
    confs = [0.25 for _ in p["spans"]]
    rendered = render_page_xml("7", p["spans"], confs=confs)
    p2 = parse_page_xml("7", rendered, level="word")
    word_confs = [
        ch[0][1]
        for line in p2["line_confmats"]
        for ch, (k, _, _, _) in zip(line, [s for s in p["spans"]])
        if k == "word"
    ]
    assert word_confs and all(abs(c - 0.25) < 1e-6 for c in word_confs)


def test_pagexml_full_cycle_correct(spark, tmp_path):
    """The reference's actual workflow, mirrored end to end: PAGE-XML
    workspace in → spans → correct_pipeline → corrected PAGE-XML out,
    distributed both directions. The corrected pages must parse back to
    the GT text (reversible noise + charmap corrector), with hierarchy
    consistency held in the output DOM."""
    from pyspark.sql import functions as F

    from cor_asv_ann_spark.operators.correction import correct_pipeline
    from cor_asv_ann_spark.sources.pagexml import (
        parse_page_xml,
        read_pagexml,
        synth_pagexml_corpus,
        write_pagexml_corpus,
    )

    sf = "/root/testdata/sf0.001"
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    synth_pagexml_corpus(spark, sf, in_dir, noisy=True)
    spans = read_pagexml(spark, f"{in_dir}/*.xml", level="word")
    corrected = correct_pipeline(spans)
    n = write_pagexml_corpus(corrected, out_dir)
    assert n == spark.read.parquet(f"{sf}/documents.parquet").count()

    docs = {str(d.doc_id): d.text
            for d in spark.read.parquet(f"{sf}/documents.parquet").collect()}
    import os
    import random

    picks = random.Random(5).sample(sorted(docs), 25)
    for did in picks:
        data = open(os.path.join(out_dir, f"{did}.xml"), "rb").read()
        p = parse_page_xml(did, data, level="word")
        got = "".join(t for _, t, _, _ in p["spans"])
        want = "\n".join(_expected_lines(docs[did])) + "\n"
        assert got == want, did


def test_run_correction_pagexml_front_door(tmp_path):
    """ocrd-cor-asv-ann-process workflow parity in ONE spark-submit
    command: run_correction --pagexml-in (workspace of page files) →
    resumable bucketed correction → --pagexml-out (corrected page
    files). The clean-text fixture passes the rule corrector unchanged,
    so output pages must parse back to exactly the input text."""
    pages = tmp_path / "pages"
    pages.mkdir()
    for did in map(str, range(12)):
        (pages / f"{did}.xml").write_bytes(synth_page_xml(did, BASE))
    r = subprocess.run(
        [sys.executable, "jobs/run_correction.py",
         "--pagexml-in", str(pages), "--output", str(tmp_path / "out"),
         "--lineage", str(tmp_path / "lineage"), "--run-id", "px",
         "--buckets", "2", "--cpus", "4",
         "--pagexml-out", str(tmp_path / "pages_out")],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(r.stdout.strip().splitlines()[-1])
    assert rep["n_docs"] == 12 and rep["pagexml_out"] == 12
    from cor_asv_ann_spark.sources.pagexml import parse_page_xml

    want = "\n".join(_expected_lines(BASE)) + "\n"
    outs = sorted((tmp_path / "pages_out").glob("*.xml"))
    assert len(outs) == 12
    for f in outs:
        p = parse_page_xml(f.stem, f.read_bytes(), level="word")
        assert "".join(t for _, t, _, _ in p["spans"]) == want, f.name


def test_run_correction_confmat_channel(tmp_path):
    """--confmat: multi-TextEquiv alternatives ride the confusion-
    network channel through the RESUMABLE job (encoding 3 — the
    reference flagship's input). Pages whose primary word text is
    corrupted but whose second TextEquiv alternative carries the GT at
    higher confidence must come out argmax-corrected to the GT."""
    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
    pages = tmp_path / "pages"
    pages.mkdir()
    gt_words = ["hello", "world", "spark", "query"]
    bad_words = ["hxllo", "wqrld", "spxrk", "qxery"]
    for did in map(str, range(4)):
        words = "".join(
            f'<Word id="d{did}_w{i}">'
            f'<TextEquiv conf="0.40" index="0"><Unicode>{bad}</Unicode></TextEquiv>'
            f'<TextEquiv conf="0.90" index="1"><Unicode>{gt}</Unicode></TextEquiv>'
            f"</Word>"
            for i, (bad, gt) in enumerate(zip(bad_words, gt_words))
        )
        xml = (f'<?xml version="1.0"?><PcGts xmlns="{ns}"><Page>'
               f'<TextRegion id="r"><TextLine id="l">{words}</TextLine>'
               f"</TextRegion></Page></PcGts>")
        (pages / f"{did}.xml").write_text(xml)
    r = subprocess.run(
        [sys.executable, "jobs/run_correction.py",
         "--pagexml-in", str(pages), "--confmat",
         "--output", str(tmp_path / "out"),
         "--lineage", str(tmp_path / "lineage"), "--run-id", "cm",
         "--buckets", "2", "--cpus", "4",
         "--pagexml-out", str(tmp_path / "pages_out")],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    from cor_asv_ann_spark.sources.pagexml import parse_page_xml

    want = " ".join(gt_words) + "\n"
    outs = sorted((tmp_path / "pages_out").glob("*.xml"))
    assert len(outs) == 4
    for f in outs:
        p = parse_page_xml(f.stem, f.read_bytes(), level="word")
        assert "".join(t for _, t, _, _ in p["spans"]) == want, f.name


def test_reader_on_error_modes(spark, tmp_path):
    """Malformed page files: on_error='fail' (default) raises with the
    file name — correctness stays visible; on_error='skip' keeps a
    100 TB crawl alive, emitting a VISIBLE spanless row per torn page
    (countable as size(spans)=0) instead of silently dropping it."""
    from pyspark.sql import functions as F

    from cor_asv_ann_spark.sources.pagexml import read_pagexml_full

    pages = tmp_path / "pages"
    pages.mkdir()
    for did in map(str, range(3)):
        (pages / f"{did}.xml").write_bytes(synth_page_xml(did, "one two"))
    (pages / "torn.xml").write_bytes(b"<PcGts><Page><TextRegion")

    with pytest.raises(Exception) as ei:
        read_pagexml_full(spark, str(pages)).collect()
    assert "torn.xml" in str(ei.value)

    rows = read_pagexml_full(spark, str(pages), on_error="skip").collect()
    assert len(rows) == 4
    by_id = {r.doc_id: r for r in rows}
    assert by_id["torn"].spans == [] and by_id["torn"].line_confs == []
    assert all(len(by_id[str(i)].spans) > 0 for i in range(3))
    full = read_pagexml_full(spark, str(pages), on_error="skip")
    assert full.filter(F.size("spans") == 0).count() == 1


def test_render_recovers_ids_and_omits_wrong_line_coords():
    """Review fixes: anchors recovered from coords:// restore the
    ORIGINAL element ids (words, glyphs, line-grain lines) so corrected
    pages stay joinable back to the source workspace by id; a TextLine
    rebuilt from WORD spans must get NO Coords (a word's polygon is not
    the line's)."""
    import xml.etree.ElementTree as ET

    from cor_asv_ann_spark.sources.pagexml import (
        parse_page_xml,
        render_page_xml,
    )

    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
    src = f"""<?xml version="1.0"?>
<PcGts xmlns="{ns}"><Page><TextRegion id="r">
  <TextLine id="origL"><Coords points="0,0 9,9"/>
    <Word id="origW1"><Coords points="1,1 2,2"/>
      <TextEquiv conf="0.7"><Unicode>aa</Unicode></TextEquiv></Word>
    <Word id="origW2"><Coords points="3,3 4,4"/>
      <TextEquiv conf="0.8"><Unicode>bb</Unicode></TextEquiv></Word>
    <TextEquiv conf="0.75"><Unicode>aa bb</Unicode></TextEquiv>
  </TextLine>
</TextRegion></Page></PcGts>"""
    # word grain: word ids + Coords recovered; line id synthesized and
    # NO line Coords (word polygons must not leak up)
    p = parse_page_xml("d", src.encode(), level="word")
    out = render_page_xml("d", p["spans"])
    root = ET.fromstring(out)

    def find_all(name):
        return [e for e in root.iter() if e.tag.endswith("}" + name)]

    words = find_all("Word")
    assert [w.get("id") for w in words] == ["origW1", "origW2"]
    wcoords = [c.get("points") for w in words for c in w
               if c.tag.endswith("}Coords")]
    assert wcoords == ["1,1 2,2", "3,3 4,4"]
    tline = find_all("TextLine")[0]
    assert not [c for c in tline if c.tag.endswith("}Coords")]
    # line grain: the line's own id + Coords recovered
    pl = parse_page_xml("d", src.encode(), level="line")
    outl = render_page_xml("d", pl["spans"])
    rootl = ET.fromstring(outl)
    tl = [e for e in rootl.iter() if e.tag.endswith("}TextLine")][0]
    assert tl.get("id") == "origL"
    assert [c.get("points") for c in tl if c.tag.endswith("}Coords")] == [
        "0,0 9,9"]


def test_reader_mixed_paths_and_attr_errors(spark, tmp_path):
    """Review fixes: (1) a directory mixed with an explicit file keeps
    the directory's *.xml filter (a JSON sidecar in the dir must NOT be
    ingested and crash the scan); (2) on_error='skip' also survives
    malformed ATTRIBUTES (conf='0,95'), not just unparsable XML."""
    pages = tmp_path / "pages"
    pages.mkdir()
    for did in ("0", "1"):
        (pages / f"{did}.xml").write_bytes(synth_page_xml(did, "one two"))
    (pages / "sidecar.json").write_text('{"not": "xml"}')
    extra = tmp_path / "extra.xml"
    extra.write_bytes(synth_page_xml("9", "three four"))

    from cor_asv_ann_spark.sources.pagexml import read_pagexml_full

    rows = read_pagexml_full(spark, [str(pages), str(extra)]).collect()
    assert sorted(r.doc_id for r in rows) == ["0", "1", "extra"]

    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
    (pages / "badattr.xml").write_text(
        f'<PcGts xmlns="{ns}"><Page><TextRegion id="r"><TextLine id="l">'
        f'<Word id="w"><TextEquiv conf="0,95"><Unicode>x</Unicode>'
        f"</TextEquiv></Word></TextLine></TextRegion></Page></PcGts>")
    with pytest.raises(Exception) as ei:
        read_pagexml_full(spark, str(pages)).collect()
    assert "badattr.xml" in str(ei.value)
    rows = read_pagexml_full(spark, str(pages), on_error="skip").collect()
    by_id = {r.doc_id: r for r in rows}
    assert by_id["badattr"].spans == []
    assert len(by_id["0"].spans) > 0


def test_model_confs_reach_pagexml_sink(tmp_path):
    """Review fix: the pipeline's per-span confidences (out_confs →
    reassemble(with_confs) → span_confs) land in the output pages'
    TextEquiv/@conf through run_correction --pagexml-out. With the
    confmat argmax corrector picking the 0.90 GT alternatives, every
    word conf in the corrected pages must be ≈0.9, not the old
    hardcoded 1.0."""
    import xml.etree.ElementTree as ET

    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
    pages = tmp_path / "pages"
    pages.mkdir()
    for did in map(str, range(2)):
        words = "".join(
            f'<Word id="d{did}_w{i}">'
            f'<TextEquiv conf="0.40" index="0"><Unicode>zzz</Unicode></TextEquiv>'
            f'<TextEquiv conf="0.90" index="1"><Unicode>abc</Unicode></TextEquiv>'
            f"</Word>"
            for i in range(3)
        )
        (pages / f"{did}.xml").write_text(
            f'<?xml version="1.0"?><PcGts xmlns="{ns}"><Page>'
            f'<TextRegion id="r"><TextLine id="l">{words}</TextLine>'
            f"</TextRegion></Page></PcGts>")
    r = subprocess.run(
        [sys.executable, "jobs/run_correction.py",
         "--pagexml-in", str(pages), "--confmat",
         "--output", str(tmp_path / "out"),
         "--lineage", str(tmp_path / "lin"), "--run-id", "cf",
         "--buckets", "1", "--cpus", "4",
         "--pagexml-out", str(tmp_path / "pages_out")],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    for f in sorted((tmp_path / "pages_out").glob("*.xml")):
        root = ET.fromstring(f.read_bytes())
        word_confs = [
            float(te.get("conf"))
            for w in root.iter() if w.tag.endswith("}Word")
            for te in w if te.tag.endswith("}TextEquiv")
        ]
        assert word_confs, f.name
        assert all(0.85 <= c <= 0.95 for c in word_confs), (f.name, word_confs)


def test_line_table_and_align_vote_lines(spark, tmp_path):
    """N-way workspace vote (wrapper/align.py:86-214): line tables are
    keyed by TextLine @id across fileGrps; majority over 3 groups with
    disjoint per-group errors recovers the clean text; a line missing
    from the non-master groups keeps the master text with n_inputs=1;
    the master's geometry/order survive."""
    from cor_asv_ann_spark.operators.align_groups import align_vote_lines
    from cor_asv_ann_spark.sources.pagexml import (
        line_table,
        read_pagexml_full,
    )

    # same workspace segmentation (= same TextLine ids) in every
    # group, differing OCR text — the real multi-OCR situation
    texts = {
        "a": ["the quick brown fox", "jumps over lazy dogs",
              "only in master"],
        "b": ["the qu1ck brown fox", "jumps ovor lazy dogs"],
        "c": ["tne quick brown fox", "jumps over lazy d0gs"],
    }
    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
    for g, lines in texts.items():
        d = tmp_path / g
        d.mkdir()
        body = "".join(
            f'<TextLine id="l{i}"><Coords points="0,{i*9} 90,{i*9+8}"/>'
            f'<TextEquiv conf="0.8"><Unicode>{t}</Unicode></TextEquiv>'
            f"</TextLine>"
            for i, t in enumerate(lines)
        )
        (d / "p1.xml").write_text(
            f'<?xml version="1.0"?><PcGts xmlns="{ns}"><Page>'
            f'<TextRegion id="r0">{body}</TextRegion></Page></PcGts>'
        )
    tabs = [
        line_table(read_pagexml_full(spark, str(tmp_path / g), level="line"))
        for g in "abc"
    ]
    t0 = {r.line_id: r for r in tabs[0].collect()}
    assert len(t0) == 3 and all(r.line_ref for r in t0.values())
    # per-char confs: one entry per character, newline stripped
    assert all(len(r.confs) == len(r.text) for r in t0.values())

    voted = {
        r.line_idx: r
        for r in align_vote_lines(tabs, method="majority").collect()
    }
    assert voted[0].voted_text.strip() == "the quick brown fox"
    assert voted[1].voted_text.strip() == "jumps over lazy dogs"
    assert voted[0].n_inputs == 3
    assert voted[2].voted_text.strip() == "only in master"
    assert voted[2].n_inputs == 1
    assert voted[0].line_ref == t0[voted[0].line_id].line_ref


def test_render_page_lines_multi_textequiv(spark, tmp_path):
    """join.py:89-106 output shape: multiple TextEquiv per TextLine
    with @index/@comments, primary first, ids recovered — and the
    engine's own reader parses the primary text back (confmat channel
    carries the alternatives)."""
    import xml.etree.ElementTree as ET

    from cor_asv_ann_spark.sources.pagexml import (
        parse_page_xml,
        render_page_lines,
    )

    data = render_page_lines(
        "d1",
        [
            ("coords://l0/0,0 9,9", [("good", 0.9, 0, "grpA"),
                                     ("gond", 0.4, 1, "grpB")]),
            (None, [("solo", 1.0, None, None)]),
        ],
    )
    root = ET.fromstring(data)
    tlines = [el for el in root.iter() if el.tag.endswith("}TextLine")]
    assert [t.get("id") for t in tlines] == ["l0", "d1_l1"]
    tes = [te for te in tlines[0] if te.tag.endswith("}TextEquiv")]
    assert [te.get("index") for te in tes] == ["0", "1"]
    assert [te.get("comments") for te in tes] == ["grpA", "grpB"]
    parsed = parse_page_xml("d1", data, level="line")
    line_texts = [t for k, t, _, _ in parsed["spans"] if k == "line"]
    assert line_texts == ["good", "solo"]  # primary = first TextEquiv
    assert parsed["line_confmats"][0][0] == [("good", 0.9), ("gond", 0.4)]


def test_alt_table_and_per_page_reports(spark, tmp_path):
    """match_on=index axis (wrapper/evaluate.py:155-160): TextEquiv
    alternatives within one group come out of alt_table with @index
    order preserved (index 0 = GT); per_page_reports aggregates the
    reference's per-page report fields per (doc, group) and
    write_page_reports lands one JSON per doc."""
    import json as _json

    from pyspark.sql import functions as F

    from cor_asv_ann_spark.operators.report import (
        per_page_reports,
        write_page_reports,
    )
    from cor_asv_ann_spark.sources.pagexml import (
        alt_table,
        read_pagexml_full,
    )

    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"

    def page(lines):
        body = ""
        for i, alts in enumerate(lines):
            tes = "".join(
                f'<TextEquiv conf="0.9" index="{j}"><Unicode>{t}</Unicode>'
                f"</TextEquiv>"
                for j, t in enumerate(alts)
            )
            body += f'<TextLine id="l{i}">{tes}</TextLine>'
        return (
            f'<?xml version="1.0"?><PcGts xmlns="{ns}"><Page>'
            f'<TextRegion id="r0">{body}</TextRegion></Page></PcGts>'
        )

    d = tmp_path / "OCR"
    d.mkdir()
    (d / "p1.xml").write_text(page([
        ["good line", "gaod line"],
        ["next line", "next l1ne"],
    ]))
    (d / "p2.xml").write_text(page([["solo text", "solo text"]]))

    full = read_pagexml_full(spark, str(d), level="line")
    alts = alt_table(full)
    rows = {(r.doc_id, r.line_idx, r.alt_index): r.text
            for r in alts.collect()}
    assert rows[("p1", 0, 0)] == "good line"
    assert rows[("p1", 0, 1)] == "gaod line"
    assert rows[("p2", 0, 1)] == "solo text"

    gt = alts.filter(F.col("alt_index") == 0).select(
        "doc_id", "line_idx", F.col("text").alias("gt_text"))
    ocr = alts.filter(F.col("alt_index") > 0).select(
        "doc_id", "line_idx", F.col("text").alias("ocr_text"),
        F.concat(F.lit("index "), F.col("alt_index")).alias("ocr_grp"))
    pairs = gt.join(ocr, ["doc_id", "line_idx"]).withColumn(
        "line_id", F.col("line_idx").cast("string"))

    per_page = per_page_reports(pairs)
    got = {(r.doc_id, r.ocr_grp): r for r in per_page.collect()}
    assert got[("p1", "index 1")].num_lines == 2
    assert abs(got[("p1", "index 1")].char_error_rate_mean - 2 / 18) < 1e-9
    assert got[("p2", "index 1")].char_error_rate_mean == 0.0

    out = tmp_path / "reports"
    assert write_page_reports(per_page, str(out)) == 2
    rep = _json.loads((out / "p1.json").read_text())
    assert rep["index 1"]["num-lines"] == 2.0
    assert abs(rep["index 1"]["char-error-rate-mean"] - 2 / 18) < 1e-9
    assert rep["index 1"]["num-words"] == 4.0


def test_match_on_baseline(spark, tmp_path):
    """Baseline/@points as the line match key (join.py:63-66): groups
    whose ids AND Coords diverge still pair by Baseline; a line
    without a Baseline falls back to its Coords — exactly the
    reference's extract() fallback."""
    from pyspark.sql import functions as F

    from cor_asv_ann_spark.sources.pagexml import (
        line_table,
        read_pagexml_full,
    )

    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"

    def page(prefix, coords_y):
        # line0 has a Baseline (same across groups); line1 has NONE —
        # its key must fall back to Coords (which we make equal too)
        return (
            f'<?xml version="1.0"?><PcGts xmlns="{ns}"><Page>'
            f'<TextRegion id="r0">'
            f'<TextLine id="{prefix}0">'
            f'<Coords points="0,{coords_y} 90,{coords_y + 8}"/>'
            f'<Baseline points="0,7 90,7"/>'
            f'<TextEquiv conf="0.8"><Unicode>line zero</Unicode></TextEquiv>'
            f"</TextLine>"
            f'<TextLine id="{prefix}1">'
            f'<Coords points="0,100 90,108"/>'
            f'<TextEquiv conf="0.8"><Unicode>line one</Unicode></TextEquiv>'
            f"</TextLine>"
            f"</TextRegion></Page></PcGts>"
        )

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    # DIFFERENT ids and DIFFERENT line-0 Coords across groups: only the
    # baseline (line 0) / coords-fallback (line 1) can pair them
    (tmp_path / "a" / "p1.xml").write_text(page("l", 0))
    (tmp_path / "b" / "p1.xml").write_text(page("x", 50))

    ta = line_table(read_pagexml_full(spark, str(tmp_path / "a"), level="line"))
    tb = line_table(read_pagexml_full(spark, str(tmp_path / "b"), level="line"))
    a = {r.line_idx: r for r in ta.collect()}
    assert a[0].line_baseline == "0,7 90,7"         # real baseline
    assert a[1].line_baseline == a[1].line_coords   # fallback
    paired = ta.select("doc_id", "line_baseline",
                       F.col("text").alias("ta")).join(
        tb.select("doc_id", "line_baseline", F.col("text").alias("tb")),
        ["doc_id", "line_baseline"],
    ).collect()
    texts = {(r.ta, r.tb) for r in paired}
    assert ("line zero", "line zero") in texts      # baseline-paired
    assert ("line one", "line one") in texts        # coords-fallback
    assert len(paired) == 2                         # no cross-pairs
