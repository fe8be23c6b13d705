"""--py-files packaging: the zip built by tools/package.py must be
importable by executors with the repo absent from sys.path (the north
rule ships the engine via spark-submit --py-files)."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_zip_deterministic(tmp_path):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import package as pkg

    out1 = tmp_path / "a.zip"
    out2 = tmp_path / "b.zip"
    names = pkg.build(str(out1))
    pkg.build(str(out2))
    assert any(n.endswith("operators/correction.py") for n in names)
    assert not any("tests/" in n or "fixtures" in n for n in names)
    assert out1.read_bytes() == out2.read_bytes()  # byte-identical rebuilds


def test_spark_submit_py_files_runs_pipeline(tmp_path):
    """A real spark-submit with --py-files and cwd OUTSIDE the repo:
    imports must resolve from the zip, and the flagship pipeline must
    produce corrected spans."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import package as pkg

    zip_path = tmp_path / "engine.zip"
    pkg.build(str(zip_path))
    job = tmp_path / "job.py"
    job.write_text(
        """
import json
from pyspark.sql import SparkSession
from cor_asv_ann_spark.sources.spans import synth_spans
from cor_asv_ann_spark.operators.correction import correct_pipeline
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
out = correct_pipeline(
    synth_spans(spark, "/root/testdata/sf0.001", noisy=True).limit(10))
print("PKGRESULT " + json.dumps({"docs": out.count()}))
spark.stop()
"""
    )
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    r = subprocess.run(
        ["spark-submit", "--py-files", str(zip_path), str(job)],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=570, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [l for l in r.stdout.splitlines() if l.startswith("PKGRESULT")][0]
    import json

    assert json.loads(line.split(" ", 1)[1])["docs"] == 10


def test_repl_transcode_line(tmp_path):
    """The interactive surface (reference cor-asv-ann-repl parity):
    piped input drives transcode_line end-to-end for both model
    formats — greedy + beam decodes printed with the ASCII alignment
    map, tuple result echoed."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "jobs/repl.py"],
        input="transcode_line('hello!')\n",
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    assert "greedy (ppl=" in r.stdout
    assert "beamed (ppl=" in r.stdout
    assert "now entering REPL" in r.stdout


def test_run_proc_file_to_file(spark, tmp_path):
    """cor-asv-ann-proc parity: plain/TSV/.pkl input files → one
    corrected output file per input (suffix rewrite), in-file line
    order exact, decoding distributed via the trained fixture model —
    the corrected lines must be closer to GT than the noisy input
    (in-distribution lines from the fixture's training corpus)."""
    import difflib
    import json
    import pickle
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from cor_asv_ann_spark.operators.correction import (
        assemble_lines,
        spans_with_line_no,
    )
    from cor_asv_ann_spark.sources.spans import synth_spans

    sf = "/root/testdata/sf0.001"
    gt_f = assemble_lines(spans_with_line_no(synth_spans(spark, sf, noisy=False)))
    no_f = assemble_lines(spans_with_line_no(synth_spans(spark, sf, noisy=True)))
    g = gt_f.select("doc_id", "line_no", F.concat_ws("", "texts").alias("gt"))
    n = no_f.select("doc_id", "line_no", F.concat_ws("", "texts").alias("ocr"))
    rows = (
        g.join(n, ["doc_id", "line_no"])
        .filter((F.length("gt") <= 45) & (F.col("doc_id").cast("int") >= 300))
        .orderBy("doc_id", "line_no").limit(8).collect()
    )
    gt = [r.gt.rstrip("\n") for r in rows]
    noisy = [r.ocr.rstrip("\n") for r in rows]

    (tmp_path / "a.txt").write_text("\n".join(noisy[:4]) + "\n")
    (tmp_path / "b.tsv").write_text(
        "".join(f"{s_}\tignored\n" for s_ in noisy[4:]))
    with open(tmp_path / "c.pkl", "wb") as f:
        pickle.dump(list(zip(noisy[:4], gt[:4])), f)

    r = subprocess.run(
        [sys.executable, "jobs/run_proc.py", "--model",
         "tests/fixtures/trained_w64_d1.npz", "--fast", "--cpus", "4",
         "--new-suffix", ".cor.txt",
         str(tmp_path / "a.txt"), str(tmp_path / "b.tsv"),
         str(tmp_path / "c.pkl")],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(r.stdout.strip().splitlines()[-1])
    assert rep["files"] == 3
    out_a = (tmp_path / "a.cor.txt").read_text().splitlines()
    out_b = (tmp_path / "b.cor.txt").read_text().splitlines()
    out_c = (tmp_path / "c.cor.txt").read_text().splitlines()
    assert len(out_a) == 4 and len(out_b) == 4 and len(out_c) == 4
    # NOTE: out_c is not asserted char-equal to out_a — identical
    # sources can decode marginally differently in Arrow batches with
    # different pad lengths (the backward encoder half runs through
    # padding, faithful to the reference's unmasked LSTM graph); the
    # corpus-level CER improvement below is the contract

    def cer(outs, tgts):
        return sum(1 - difflib.SequenceMatcher(None, o, t).ratio()
                   for o, t in zip(outs, tgts)) / len(tgts)

    assert cer(out_a + out_b, gt) < cer(noisy, gt), (out_a + out_b, noisy)
    assert cer(out_c, gt[:4]) < cer(noisy[:4], gt[:4])


def test_proc_output_name_derivation():
    """Name derivation parity with proc.py:72-78: old_suffix removed
    wherever present; set-but-absent falls back to stripping the last
    extension (the ADVICE r4 divergence)."""
    from jobs.run_proc import derive_output_name

    assert derive_output_name("f.txt", "", ".cor.txt") == "f.cor.txt"
    assert derive_output_name("f.old.txt", ".old.txt", ".cor.txt") == "f.cor.txt"
    # old_suffix given but absent → strip last extension, not keep name
    assert derive_output_name("f.txt", ".bogus", ".cor.txt") == "f.cor.txt"
    # reference removes the suffix anywhere (str.replace semantics)
    assert derive_output_name("a.old.b.old.txt", ".old", ".c") == "a.b.txt.c"


def test_proc_charmap_single_pass():
    """Charmap is single-pass (str.translate semantics): a swap map
    must not cascade (the ADVICE r4 medium finding — chained F.replace
    turned {"a":"b","b":"a"} into all-'a')."""
    from jobs.run_proc import make_charmap_fn

    assert make_charmap_fn({"a": "b", "b": "a"})("abba") == "baab"
    # each char mapped once: ſ→s must NOT cascade into s→z
    assert make_charmap_fn({"ſ": "s", "s": "z"})("ſtraſse") == "strasze"
    assert make_charmap_fn({"ſ": "s", "s": "z"})("ſs") == "sz"
    # multi-char keys: one pass, longest key first
    fn = make_charmap_fn({"ab": "X", "b": "Y"})
    assert fn("abb") == "XY"
    assert make_charmap_fn(None)("abc") == "abc"


def test_read_files_ordered_crlf_and_charmap(spark, tmp_path):
    """CRLF inputs must not leak '\\r' into model input (universal
    newlines, as the reference's text-mode open), and the charmap is
    applied inside the split UDF exactly once per char."""
    from jobs.run_proc import read_files_ordered

    p = tmp_path / "crlf.txt"
    p.write_bytes(b"ab\r\nba\r\ncd\r\n")
    rows = (
        read_files_ordered(spark, [str(p)], cmap={"a": "b", "b": "a"})
        .orderBy("line_no").collect()
    )
    assert [r.source for r in rows] == ["ba", "ab", "cd"]
    assert all("\r" not in r.source for r in rows)
    assert all(r.confmat is None for r in rows)


def test_run_proc_confmat_pickle(spark, tmp_path):
    """cor-asv-ann-proc confmat parity (reference proc.py:33-40: pkl
    sources may be prob lines or confusion networks): run_proc on a
    confmat .pkl and a prob-line .pkl produces corrected output files
    directly (no detour through run_correction), line counts exact,
    corpus CER improved vs the noisy first-alternatives; --old-suffix
    absent from a name falls back to extension-stripping with a
    warning."""
    import difflib
    import json
    import pickle

    from pyspark.sql import functions as F

    from cor_asv_ann_spark.operators.correction import (
        assemble_lines,
        spans_with_line_no,
    )
    from cor_asv_ann_spark.sources.spans import synth_spans

    sf = "/root/testdata/sf0.001"
    gt_f = assemble_lines(spans_with_line_no(synth_spans(spark, sf, noisy=False)))
    no_f = assemble_lines(spans_with_line_no(synth_spans(spark, sf, noisy=True)))
    g = gt_f.select("doc_id", "line_no", F.concat_ws("", "texts").alias("gt"))
    n = no_f.select("doc_id", "line_no", F.concat_ws("", "texts").alias("ocr"))
    rows = (
        g.join(n, ["doc_id", "line_no"])
        .filter((F.length("gt") <= 45) & (F.col("doc_id").cast("int") >= 300))
        .orderBy("doc_id", "line_no").limit(8).collect()
    )
    gt = [r.gt.rstrip("\n") for r in rows]
    noisy = [r.ocr.rstrip("\n") for r in rows]

    # confmat pkl: per-char single-alt chunks + EOS chunk (pickle
    # format preserves end-of-sequence, seq2seq.py:946-958)
    confmats = [
        ([[(c, 1.0)] for c in src] + [[("\n", 1.0)]], tgt + "\n")
        for src, tgt in zip(noisy[:4], gt[:4])
    ]
    with open(tmp_path / "cm.pkl", "wb") as f:
        pickle.dump(confmats, f)
    # prob-line pkl: (char, prob) tuples incl. EOS
    problines = [
        ([(c, 0.9) for c in src + "\n"], tgt + "\n")
        for src, tgt in zip(noisy[4:], gt[4:])
    ]
    with open(tmp_path / "pl.pkl", "wb") as f:
        pickle.dump(problines, f)

    r = subprocess.run(
        [sys.executable, "jobs/run_proc.py", "--model",
         "tests/fixtures/trained_w64_d1.npz", "--fast", "--cpus", "4",
         "--old-suffix", ".bogus", "--new-suffix", ".cor.txt",
         str(tmp_path / "cm.pkl"), str(tmp_path / "pl.pkl")],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(r.stdout.strip().splitlines()[-1])
    assert rep["files"] == 2
    # .bogus absent → last extension stripped instead, with a warning
    assert sorted(os.path.basename(p) for p in rep["outputs"]) == [
        "cm.cor.txt", "pl.cor.txt"]
    assert "does not contain suffix" in r.stderr
    out_cm = (tmp_path / "cm.cor.txt").read_text().splitlines()
    out_pl = (tmp_path / "pl.cor.txt").read_text().splitlines()
    assert len(out_cm) == 4 and len(out_pl) == 4

    def cer(outs, tgts):
        return sum(1 - difflib.SequenceMatcher(None, o, t).ratio()
                   for o, t in zip(outs, tgts)) / len(tgts)

    assert cer(out_cm + out_pl, gt) < cer(noisy, gt), (out_cm + out_pl, noisy)


def test_read_files_ordered_probline_charmap_and_formfeed(spark, tmp_path):
    """Review fixes: (1) prob-line pickle chars are charmapped exactly
    like plain text (the reference translates the prob-line source it
    vectorizes, seq2seq.py:975-979) — a swap map must not cascade and
    must reach the confmat alts; (2) a form feed inside a plain-text
    line stays IN the line (text-mode universal newlines split on
    \\r\\n/\\r/\\n only, not str.splitlines' \\f/\\v/\\x85)."""
    import json as _json
    import pickle

    from jobs.run_proc import read_files_ordered

    pkl = tmp_path / "p.pkl"
    with open(pkl, "wb") as f:
        pickle.dump([([("a", 0.9), ("b", 0.8), ("\n", 1.0)], "ab\n")], f)
    rows = read_files_ordered(
        spark, [str(pkl)], cmap={"a": "b", "b": "a"}).collect()
    assert rows[0].source == "ba"
    alts = [[d["alt"] for d in ch] for ch in _json.loads(rows[0].confmat)]
    assert [a[0] for a in alts] == ["b", "a", "\n"]

    ff = tmp_path / "ff.txt"
    ff.write_bytes(b"one\x0cpage\ntwo\n")
    rows = read_files_ordered(spark, [str(ff)]).orderBy("line_no").collect()
    assert [r.source for r in rows] == ["one\x0cpage", "two"]


def test_run_mark_pagexml_workspace(tmp_path):
    """ocrd-cor-asv-ann-mark parity (wrapper/mark.py:32-140): PAGE-XML
    workspace → hunspell .dic/.aff marking (incl. compound DP and the
    dehyphenation retry) → PAGE-XML with @conf=0.123 on unknown words
    ('conf' format) or @comments otherwise; counters in the JSON
    summary (candidates/nonmatches, wrapper/mark.py:31-37)."""
    import json
    import re
    import subprocess
    import sys

    from cor_asv_ann_spark.sources.pagexml import synth_page_xml

    pages = tmp_path / "pages"
    pages.mkdir()
    (pages / "p1.xml").write_bytes(synth_page_xml(
        "p1", "Dampfschifffahrt Qqzz Dampf-\nfahrt gut\n", words_per_line=3))
    (tmp_path / "de.aff").write_text(
        "SET UTF-8\nCOMPOUNDFLAG X\nCOMPOUNDMIN 4\n", encoding="utf-8")
    (tmp_path / "de.dic").write_text(
        "5\nDampf/X\nSchiff/X\nFahrt/X\ngut\n", encoding="utf-8")

    def run(fmt, out_name):
        r = subprocess.run(
            [sys.executable, "jobs/run_mark.py",
             "--pagexml-in", str(pages),
             "--pagexml-out", str(tmp_path / out_name),
             "--dict", str(tmp_path / "de.dic"),
             "--format", fmt, "--cpus", "4"],
            capture_output=True, text=True, cwd=ROOT, timeout=600,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    rep = run("conf", "marked")
    # 5 words; only Qqzz unknown: the compound is DP-accepted, the
    # hyphenated pair is unmarked by the rejoin (Dampf+fahrt compound)
    assert rep["files"] == 1
    assert rep["candidates"] == 5 and rep["nonmatches"] == 1
    word_conf_re = (
        r'<ns0:Word[^>]*>(?:\s*<ns0:Coords[^>]*/>)?'
        r'\s*<ns0:TextEquiv conf="([0-9.]+)"[^>]*>'
        r'\s*<ns0:Unicode>([^<]*)'
    )
    xml = (tmp_path / "marked" / "p1.xml").read_text()
    by_word = {w: float(c) for c, w in re.findall(word_conf_re, xml)}
    assert by_word["Qqzz"] == 0.123
    # IV words KEEP their input confidences (the reference only stamps
    # unknown words, wrapper/mark.py:128-133)
    from cor_asv_ann_spark.sources.pagexml import parse_page_xml

    parsed = parse_page_xml(
        "p1", (pages / "p1.xml").read_bytes(), level="word")
    src_conf = {
        t: c
        for (k, t, _, _), c in zip(parsed["spans"], parsed["span_confs"])
        if k == "word"
    }
    for w in ("Dampfschifffahrt", "Dampf-", "fahrt", "gut"):
        assert abs(by_word[w] - src_conf[w]) < 5e-4, (w, by_word, src_conf)
        assert by_word[w] != 0.123

    rep2 = run("badspell", "marked2")
    assert rep2["nonmatches"] == 1
    xml2 = (tmp_path / "marked2" / "p1.xml").read_text()
    assert xml2.count('comments="badspell"') == 1
    assert 'conf="0.1230"' not in xml2


def test_run_align_join_evaluate_workspaces(tmp_path):
    """The three remaining OCR-D processor mirrors end to end on one
    multi-fileGrp workspace (wrapper/align.py, join.py, evaluate.py):
    run_align majority-votes 3 OCR groups back to the clean text,
    run_join emits multi-TextEquiv lines with @index/@comments, and
    run_evaluate --pagexml-in reports per-group CER against GT."""
    import json
    import subprocess
    import sys
    import xml.etree.ElementTree as ET

    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
    texts = {
        "gt": ["the quick brown fox", "jumps over lazy dogs"],
        "a": ["the quick brown fox", "jumps over lazy dogs"],
        "b": ["the qu1ck brown fox", "jumps ovor lazy dogs"],
        "c": ["tne quick brown fox", "jumps over lazy d0gs"],
    }
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

    def run(job, *extra):
        r = subprocess.run(
            [sys.executable, f"jobs/{job}", *extra, "--cpus", "4"],
            capture_output=True, text=True, cwd=ROOT, timeout=600,
        )
        assert r.returncode == 0, (job, r.stderr[-2000:])
        return r.stdout.strip().splitlines()[-1]

    # --- align: majority of a,b,c == the clean text, master ids kept
    rep = json.loads(run(
        "run_align.py", "--pagexml-in", str(tmp_path / "a"),
        str(tmp_path / "b"), str(tmp_path / "c"),
        "--pagexml-out", str(tmp_path / "voted"), "--method", "majority"))
    assert rep == {"files": 1, "lines": 2, "voted": 2, "mean_conf": 0.8,
                   "method": "majority", "groups": 3}
    root = ET.fromstring((tmp_path / "voted" / "p1.xml").read_bytes())
    got = {
        t.get("id"): te_uni.text
        for t in root.iter() if t.tag.endswith("}TextLine")
        for te in t if te.tag.endswith("}TextEquiv")
        for te_uni in te
    }
    assert got == {"l0": "the quick brown fox", "l1": "jumps over lazy dogs"}

    # --- align rejects majority with only 2 groups (align.py:51-52)
    r = subprocess.run(
        [sys.executable, "jobs/run_align.py", "--pagexml-in",
         str(tmp_path / "a"), str(tmp_path / "b"),
         "--pagexml-out", str(tmp_path / "x"), "--method", "majority"],
        capture_output=True, text=True, cwd=ROOT, timeout=120,
    )
    assert r.returncode != 0 and "more than 2" in r.stderr

    # --- join: one line, two TextEquivs, provenance stamped
    rep = json.loads(run(
        "run_join.py", "--pagexml-in", str(tmp_path / "a"),
        str(tmp_path / "b"), "--pagexml-out", str(tmp_path / "joined"),
        "--add-filegrp-comments", "--add-filegrp-index"))
    assert rep["files"] == 1 and rep["lines"] == 2
    assert rep["alternatives"] == 4 and rep["groups"] == ["a", "b"]
    root = ET.fromstring((tmp_path / "joined" / "p1.xml").read_bytes())
    l0 = next(t for t in root.iter()
              if t.tag.endswith("}TextLine") and t.get("id") == "l0")
    tes = [te for te in l0 if te.tag.endswith("}TextEquiv")]
    assert [(te.get("index"), te.get("comments")) for te in tes] == [
        ("0", "a"), ("1", "b")]
    unis = [u.text for te in tes for u in te if u.tag.endswith("}Unicode")]
    assert unis == ["the quick brown fox", "the qu1ck brown fox"]

    # --- evaluate: per-group CER vs GT (a perfect, b/c 2 edits each)
    run("run_evaluate.py", "--pagexml-in", str(tmp_path / "gt"),
        str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "c"),
        "--out", str(tmp_path / "report.json"))
    report = json.loads((tmp_path / "report.json").read_text())
    cer = {row["ocr_grp"]: row["cer"] for row in report["cer"]}
    assert cer["a"] == 0.0
    assert abs(cer["b"] - 2 / 39) < 1e-9 and abs(cer["c"] - 2 / 39) < 1e-9
    assert {w["ocr_grp"] for w in report["wer"]} == {"a", "b", "c"}


def test_match_on_coords(tmp_path):
    """`match-on=coords` (join.py:60-68): groups whose TextLine ids
    DIVERGE still pair by Coords/@points geometry in run_join and
    run_evaluate."""
    import json
    import subprocess
    import sys

    ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"

    def page(lines, prefix):
        body = "".join(
            f'<TextLine id="{prefix}{i}">'
            f'<Coords points="0,{i*9} 90,{i*9+8}"/>'
            f'<TextEquiv conf="0.8"><Unicode>{t}</Unicode></TextEquiv>'
            f"</TextLine>"
            for i, t in enumerate(lines)
        )
        return (
            f'<?xml version="1.0"?><PcGts xmlns="{ns}"><Page>'
            f'<TextRegion id="r0">{body}</TextRegion></Page></PcGts>'
        )

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    (tmp_path / "a" / "p1.xml").write_text(
        page(["the quick brown fox", "jumps over lazy dogs"], "l"))
    (tmp_path / "b" / "p1.xml").write_text(
        page(["the qu1ck brown fox", "jumps ovor lazy dogs"], "x"))

    r = subprocess.run(
        [sys.executable, "jobs/run_join.py", "--pagexml-in",
         str(tmp_path / "a"), str(tmp_path / "b"),
         "--pagexml-out", str(tmp_path / "joined"),
         "--match-on", "coords", "--cpus", "4"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(r.stdout.strip().splitlines()[-1])
    assert rep["lines"] == 2 and rep["alternatives"] == 4
    joined = (tmp_path / "joined" / "p1.xml").read_text()
    assert "qu1ck" in joined and "quick" in joined  # both alternatives

    r = subprocess.run(
        [sys.executable, "jobs/run_evaluate.py", "--pagexml-in",
         str(tmp_path / "a"), str(tmp_path / "b"),
         "--match-on", "coords",
         "--out", str(tmp_path / "rep.json"), "--cpus", "4"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads((tmp_path / "rep.json").read_text())
    assert rep["cer"][0]["n_lines"] == 2
    assert abs(rep["cer"][0]["cer"] - 2 / 39) < 1e-9
