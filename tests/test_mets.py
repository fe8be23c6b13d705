"""OCR-D workspace METS support (sources/mets.py): fileGrp resolution
in physical page order, output fileGrp registration, and the CLI
--mets/-I/-O front door (the ocrd_cli_options contract the reference's
processors are invoked with, e.g. tests/conftest.py:34-48 resolving
inputs via workspace.mets.find_files)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import xml.etree.ElementTree as ET

import pytest

from cor_asv_ann_spark.sources.mets import (
    METS_NS,
    add_filegrp,
    filegrp_paths,
    page_ids_of,
    parse_mets,
    resolve_workspace,
    synth_mets,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_NS_PAGE = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"


def _page(lines: list[str]) -> str:
    body = "".join(
        f'<TextLine id="l{i}"><Coords points="0,{i * 9} 90,{i * 9 + 8}"/>'
        f'<TextEquiv conf="0.8"><Unicode>{t}</Unicode></TextEquiv>'
        f"</TextLine>"
        for i, t in enumerate(lines)
    )
    return (
        f'<?xml version="1.0"?><PcGts xmlns="{_NS_PAGE}"><Page>'
        f'<TextRegion id="r0">{body}</TextRegion></Page></PcGts>'
    )


def _workspace(tmp_path, grps: dict[str, dict[str, list[str]]]) -> str:
    """grps: USE -> {page_name: lines}; returns mets.xml path."""
    rels: dict[str, list[str]] = {}
    for use, pages in grps.items():
        d = tmp_path / use
        d.mkdir()
        for name, lines in pages.items():
            (d / f"{name}.xml").write_text(_page(lines))
            rels.setdefault(use, []).append(f"{use}/{name}.xml")
    return synth_mets(str(tmp_path), rels)


def test_parse_resolve_register(tmp_path):
    mets = _workspace(
        tmp_path,
        {
            "OCR1": {"p1": ["aa"], "p2": ["bb"]},
            "OCR2": {"p1": ["ab"], "p2": ["bb"]},
        },
    )
    meta = parse_mets(mets)
    assert sorted(meta["file_grps"]) == ["OCR1", "OCR2"]
    assert meta["page_order"] == ["phys_p1", "phys_p2"]

    paths = filegrp_paths(mets, "OCR1")
    assert [p.rsplit("/", 2)[-2:] for p in paths] == [
        ["OCR1", "p1.xml"], ["OCR1", "p2.xml"]]
    with pytest.raises(KeyError):
        filegrp_paths(mets, "TYPO")
    assert page_ids_of(mets, "OCR2") == {"p1": "phys_p1", "p2": "phys_p2"}

    # register an output group; rerun (replacement) must not duplicate
    out = tmp_path / "OUT"
    out.mkdir()
    for n in ("p1", "p2"):
        (out / f"{n}.xml").write_text(_page(["x"]))
    files = [str(out / "p1.xml"), str(out / "p2.xml")]
    for _ in range(2):
        assert add_filegrp(
            mets, "OUT", files, page_ids=page_ids_of(mets, "OCR1")
        ) == 2
    meta = parse_mets(mets)
    assert [f for f, _, _ in meta["file_grps"]["OUT"]] == [
        "OUT_p1", "OUT_p2"]
    assert meta["page_of"]["OUT_p1"] == "phys_p1"
    root = ET.parse(mets).getroot()
    fptrs = [
        f.get("FILEID")
        for f in root.iter(f"{{{METS_NS}}}fptr")
        if (f.get("FILEID") or "").startswith("OUT_")
    ]
    assert sorted(fptrs) == ["OUT_p1", "OUT_p2"]  # no dup after rerun

    # resolve_workspace: comma -I, out dir created, register callback,
    # per-group basename→page maps
    (paths1, paths2), out_dir, register, page_maps = resolve_workspace(
        mets, "OCR1,OCR2", "OUT2"
    )
    assert len(paths1) == 2 and len(paths2) == 2
    assert out_dir.endswith("/OUT2")
    assert page_maps[0] == {"p1": "phys_p1", "p2": "phys_p2"}
    assert register(files) == 2
    assert "OUT2" in parse_mets(mets)["file_grps"]


def test_mets_cli_front_door(tmp_path):
    """run_align and run_mark on a real (synthetic) OCR-D workspace:
    -I fileGrps resolved through the METS, output written under the
    workspace and registered as a new fileGrp with page fptrs. The
    groups use REALISTIC ocrd file naming — each group's files are
    named after its own FILEIDs, so basenames NEVER match across
    groups and pairing must go through the structMap physical page
    (the real-workspace case file-basename matching silently breaks)."""
    texts = {
        "OCR1": ["the quick brown fox", "jumps over lazy dogs"],
        "OCR2": ["the qu1ck brown fox", "jumps ovor lazy dogs"],
        "OCR3": ["tne quick brown fox", "jumps over lazy d0gs"],
    }
    rels = {}
    for use, lines in texts.items():
        d = tmp_path / use
        d.mkdir()
        name = f"{use}_0001.xml"  # group-prefixed, basenames diverge
        (d / name).write_text(_page(lines))
        rels[use] = [(f"{use}/{name}", "phys_0001")]
    mets = synth_mets(str(tmp_path), rels)

    r = subprocess.run(
        [sys.executable, "jobs/run_align.py", "--mets", mets,
         "-I", "OCR1,OCR2,OCR3", "-O", "ALIGNED",
         "--method", "majority", "--cpus", "4"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(r.stdout.strip().splitlines()[-1])
    assert rep["files"] == 1 and rep["lines"] == 2
    # the vote actually saw all 3 groups (basename matching would give
    # n_inputs=1 and keep the master's errors)
    assert rep["voted"] == 2
    voted = (tmp_path / "ALIGNED" / "phys_0001.xml").read_text()
    assert "the quick brown fox" in voted and "qu1ck" not in voted
    assert "jumps over lazy dogs" in voted
    meta = parse_mets(mets)
    assert [f for f, _, _ in meta["file_grps"]["ALIGNED"]] == [
        "ALIGNED_phys_0001"]
    assert meta["page_of"]["ALIGNED_phys_0001"] == "phys_0001"

    # run_mark needs word-grain pages (the reference marks Words):
    # register a WORDS fileGrp into the same workspace first
    wd = tmp_path / "WORDS"
    wd.mkdir()
    words = "".join(
        f'<Word id="w{i}"><TextEquiv conf="0.9"><Unicode>{w}</Unicode>'
        f"</TextEquiv></Word>"
        for i, w in enumerate(["the", "quick", "qqzz", "fox"])
    )
    (wd / "p1.xml").write_text(
        f'<?xml version="1.0"?><PcGts xmlns="{_NS_PAGE}"><Page>'
        f'<TextRegion id="r0"><TextLine id="l0">{words}</TextLine>'
        f"</TextRegion></Page></PcGts>"
    )
    add_filegrp(mets, "WORDS", [str(wd / "p1.xml")],
                page_ids={"p1": "phys_0001"})
    (tmp_path / "words.dic").write_text("4\nthe\nquick\nbrown\nfox\n")
    r = subprocess.run(
        [sys.executable, "jobs/run_mark.py", "--mets", mets,
         "-I", "WORDS", "-O", "MARKED",
         "--dict", str(tmp_path / "words.dic"), "--cpus", "4"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(r.stdout.strip().splitlines()[-1])
    assert rep["files"] == 1 and rep["candidates"] == 4
    assert rep["nonmatches"] == 1
    marked = (tmp_path / "MARKED" / "p1.xml").read_text()
    assert marked.count('conf="0.1230"') == 1
    assert "MARKED" in parse_mets(mets)["file_grps"]


def test_parse_mets_edge_cases(tmp_path):
    """METS robustness: files without FLocat are skipped, absolute and
    un-prefixed hrefs resolve, non-PAGE mimetypes are filtered, a
    missing physical structMap keeps fileSec order, and structMap-less
    files sort last."""
    mets_ns = "http://www.loc.gov/METS/"
    abs_page = tmp_path / "elsewhere.xml"
    abs_page.write_text("x")
    xml = f"""<?xml version="1.0"?>
<mets xmlns="{mets_ns}">
  <fileSec>
    <fileGrp USE="OCR">
      <file ID="f_noloc" MIMETYPE="application/vnd.prima.page+xml"/>
      <file ID="f_abs" MIMETYPE="application/vnd.prima.page+xml">
        <FLocat href="{abs_page}"/>
      </file>
      <file ID="f_img" MIMETYPE="image/png">
        <FLocat href="OCR/img.png"/>
      </file>
      <file ID="f_rel2" MIMETYPE="application/vnd.prima.page+xml">
        <FLocat href="OCR/p2.xml"/>
      </file>
      <file ID="f_rel1" MIMETYPE="application/vnd.prima.page+xml">
        <FLocat href="OCR/p1.xml"/>
      </file>
    </fileGrp>
  </fileSec>
  <structMap TYPE="physical">
    <div TYPE="physSequence">
      <div TYPE="page" ID="phys1" ORDER="1"><fptr FILEID="f_rel1"/></div>
      <div TYPE="page" ID="phys2" ORDER="2"><fptr FILEID="f_rel2"/></div>
    </div>
  </structMap>
</mets>"""
    mets = tmp_path / "mets.xml"
    mets.write_text(xml)

    meta = parse_mets(str(mets))
    ids = [f for f, _, _ in meta["file_grps"]["OCR"]]
    assert "f_noloc" not in ids        # no FLocat → skipped
    assert "f_abs" in ids and "f_img" in ids
    assert meta["page_order"] == ["phys1", "phys2"]

    # PAGE mimetype filter + physical page order; the structMap-less
    # absolute file sorts last
    paths = filegrp_paths(str(mets), "OCR")
    names = [p.rsplit("/", 1)[-1] for p in paths]
    assert names == ["p1.xml", "p2.xml", "elsewhere.xml"]
    assert paths[2] == str(abs_page)   # absolute href untouched
    assert not any(n.endswith(".png") for n in names)

    # no physical structMap at all: fileSec order preserved
    mets2 = tmp_path / "mets2.xml"
    mets2.write_text(xml.replace('TYPE="physical"', 'TYPE="logical"'))
    names2 = [p.rsplit("/", 1)[-1]
              for p in filegrp_paths(str(mets2), "OCR")]
    assert names2 == ["elsewhere.xml", "p2.xml", "p1.xml"]  # fileSec order
