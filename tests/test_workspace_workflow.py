"""Golden OCR-D workspace workflow: the reference's processors chained
on ONE workspace through their Spark mirrors, end to end, METS-driven —
align (3 OCR fileGrps, realistic divergent file names) → mark (hunspell
with compounds) → evaluate (against GT, per-page reports). Each stage
reads its input fileGrp from the METS the previous stage registered
into; the final METS catalogues every produced group with page fptrs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import xml.etree.ElementTree as ET

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_NS = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"


def _page(lines):
    # full hierarchy: Word children (the mark processor's grain) AND the
    # consistent line-level TextEquiv (the align/evaluate grain)
    body = ""
    for i, t in enumerate(lines):
        words = "".join(
            f'<Word id="l{i}_w{j}"><TextEquiv conf="0.8">'
            f"<Unicode>{w}</Unicode></TextEquiv></Word>"
            for j, w in enumerate(t.split())
        )
        body += (
            f'<TextLine id="l{i}"><Coords points="0,{i * 9} 200,{i * 9 + 8}"/>'
            f"{words}"
            f'<TextEquiv conf="0.8"><Unicode>{t}</Unicode></TextEquiv>'
            f"</TextLine>"
        )
    return (
        f'<?xml version="1.0"?><PcGts xmlns="{_NS}"><Page>'
        f'<TextRegion id="r0">{body}</TextRegion></Page></PcGts>'
    )


def _run(job, *argv):
    r = subprocess.run(
        [sys.executable, f"jobs/{job}", *argv, "--cpus", "4"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, (job, r.stderr[-2000:])
    return r.stdout.strip().splitlines()[-1]


def test_full_workspace_workflow(tmp_path):
    from cor_asv_ann_spark.sources.mets import parse_mets, synth_mets

    gt = ["dampf schiff fahrt gut", "wetter heute sehr gut"]
    noisy = {
        # disjoint errors per group — majority recovers the GT exactly
        "OCR1": ["dampf schiff fahrt gut", "wetter heute sehr gut"],
        "OCR2": ["danpf schiff fahrt gut", "wetter heute sebr gut"],
        "OCR3": ["dampf schiff fahrt gvt", "wetter heutc sehr gut"],
    }
    rels = {}
    for use, lines in {**noisy, "GT": gt}.items():
        d = tmp_path / use
        d.mkdir()
        for p, chunk in (("0001", lines),):
            name = f"{use}_{p}.xml"  # realistic ocrd naming: basenames
            (d / name).write_text(_page(chunk))  # diverge across groups
            rels.setdefault(use, []).append((f"{use}/{name}", f"phys_{p}"))
    mets = synth_mets(str(tmp_path), rels)

    # 1) align: 3-way majority vote → ALIGNED fileGrp
    rep = json.loads(_run(
        "run_align.py", "--mets", mets, "-I", "OCR1,OCR2,OCR3",
        "-O", "ALIGNED", "--method", "majority"))
    assert rep["files"] == 1 and rep["voted"] == 2

    # 2) mark: hunspell dictionary with a compound, on the word-grain
    #    OCR1 group (align output is line-grain — children dropped like
    #    the reference, align.py:81-83 — so marking needs a group that
    #    still has Words, exactly as in a real ocrd workflow)
    (tmp_path / "de.aff").write_text(
        "SET UTF-8\nCOMPOUNDFLAG X\nCOMPOUNDMIN 4\n")
    (tmp_path / "de.dic").write_text(
        "6\ndampf/X\nschiff/X\nfahrt/X\ngut\nwetter\nsehr\n")
    rep = json.loads(_run(
        "run_mark.py", "--mets", mets, "-I", "OCR1", "-O", "MARKED",
        "--dict", str(tmp_path / "de.dic")))
    # OCR1 is clean: only 'heute' is OOV (not in the dictionary)
    assert rep["candidates"] == 8 and rep["nonmatches"] == 1
    marked = next((tmp_path / "MARKED").glob("*.xml")).read_text()
    assert marked.count('conf="0.1230"') == 1

    # 3) evaluate: ALIGNED and a raw OCR group vs GT, per-page reports
    _run("run_evaluate.py", "--mets", mets, "-I", "GT,ALIGNED,OCR2",
         "-O", "EVAL", "--out", str(tmp_path / "report.json"))
    report = json.loads((tmp_path / "report.json").read_text())
    cer = {r["ocr_grp"]: r["cer"] for r in report["cer"]}
    assert cer["ALIGNED"] == 0.0          # vote recovered the GT
    assert cer["OCR2"] > 0.0              # raw OCR keeps its errors
    assert report["per_page_files"] == 1

    # the METS now catalogues every stage with page fptrs
    meta = parse_mets(mets)
    assert {"GT", "OCR1", "OCR2", "OCR3", "ALIGNED", "MARKED",
            "EVAL"} <= set(meta["file_grps"])
    for grp in ("ALIGNED", "MARKED", "EVAL"):
        fid = meta["file_grps"][grp][0][0]
        assert meta["page_of"][fid] == "phys_0001", (grp, meta["page_of"])
