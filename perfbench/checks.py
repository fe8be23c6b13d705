"""Output checks that do not go through the program's own code.

* ``span_seq_exact``: the corrected PAGE-XML pages are read with
  ElementTree here and compared with the generator's clean pages, word
  by word: element kind, text, id + Coords (the media anchor) and order.
* ``cer_after``: the corrected span table is read with pyarrow and its
  line texts are compared with the clean span table's by edit distance.
* ``pairs_match_oracle``: each curate query's collected rows are compared
  with DuckDB's replay of its ``oracle_sql()`` over the same files.
"""

from __future__ import annotations

import glob
import json
import os
import xml.etree.ElementTree as ET

import pyarrow.parquet as pq

PAGE_NS = "{http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15}"


def levenshtein(a: str, b: str) -> int:
    """Bit-parallel edit distance (Myers 1999, Hyyrö's formulation)."""
    if not a or not b:
        return len(a) + len(b)
    peq: dict[str, int] = {}
    for i, ch in enumerate(a):
        peq[ch] = peq.get(ch, 0) | (1 << i)
    mask = (1 << len(a)) - 1
    top = 1 << (len(a) - 1)
    pv, mv, score = mask, 0, len(a)
    for ch in b:
        eq = peq.get(ch, 0)
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq
        ph = mv | (~(xh | pv) & mask)
        mh = pv & xh
        if ph & top:
            score += 1
        elif mh & top:
            score -= 1
        ph = ((ph << 1) | 1) & mask
        mh = (mh << 1) & mask
        pv = mh | (~(xv | ph) & mask)
        mv = ph & xv
    return score


def _text(el) -> str:
    te = el.find(f"{PAGE_NS}TextEquiv/{PAGE_NS}Unicode")
    return te.text or "" if te is not None else ""


def page_words(path: str) -> list[list[tuple[str, str, str, str]]]:
    """Lines of (kind, id, Coords points, text) in reading order: regions
    by the page's ReadingOrder, else document order."""
    page = ET.parse(path).getroot().find(f"{PAGE_NS}Page")
    regions = {r.get("id"): r for r in page.iter(f"{PAGE_NS}TextRegion")}
    refs = sorted(page.iter(f"{PAGE_NS}RegionRefIndexed"), key=lambda r: int(r.get("index")))
    order = [regions[r.get("regionRef")] for r in refs] or list(regions.values())
    lines = []
    for region in order:
        for tl in region.findall(f"{PAGE_NS}TextLine"):
            words = []
            for w in tl.findall(f"{PAGE_NS}Word"):
                coords = w.find(f"{PAGE_NS}Coords")
                words.append(("Word", w.get("id"), coords.get("points") if coords is not None
                              else None, _text(w)))
            lines.append(words)
    return lines


def span_seq_exact(clean_dir: str, out_dir: str) -> float:
    """Share of clean pages whose corrected page has the same word sequence."""
    clean = sorted(glob.glob(f"{clean_dir}/*.xml"))
    same = 0
    for path in clean:
        out = os.path.join(out_dir, os.path.basename(path))
        if os.path.exists(out) and page_words(out) == page_words(path):
            same += 1
    return same / len(clean)


def _line_texts(path: str) -> dict[str, list[str]]:
    out = {}
    for row in pq.read_table(path, columns=["doc_id", "spans"]).to_pylist():
        spans = sorted(row["spans"], key=lambda s: s["offset"])
        out[row["doc_id"]] = "".join(s["text"] or "" for s in spans).split("\n")
    return out


def _skeleton(path: str) -> dict[str, list[tuple]]:
    return {
        row["doc_id"]: sorted((s["offset"], s["kind"], s["media_ref"]) for s in row["spans"])
        for row in pq.read_table(path, columns=["doc_id", "spans"]).to_pylist()
    }


def mean_cer(clean_path: str, test_path: str) -> float:
    """Mean per-line CER of ``test_path``'s lines against the clean lines;
    a missing document counts every one of its lines as CER 1."""
    clean, test = _line_texts(clean_path), _line_texts(test_path)
    cers = []
    for doc, lines in clean.items():
        got = test.get(doc)
        for i, gt in enumerate(lines):
            if not gt:
                continue
            hyp = got[i] if got is not None and i < len(got) else ""
            cers.append(levenshtein(gt, hyp) / len(gt))
    return sum(cers) / len(cers)


def spans_skeleton_same(clean_path: str, test_path: str) -> bool:
    """Every document is present with the same (offset, kind, media_ref)
    spans: correction may change text, never structure."""
    return _skeleton(clean_path) == _skeleton(test_path)


def _norm(row) -> tuple:
    return tuple(round(v, 6) if isinstance(v, float) else v for v in row)


def oracle_rows(inputs: str, names: list[str]) -> dict[str, list[tuple]]:
    """DuckDB replay of ``oracle_sql()`` for ``names`` over ``inputs``."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            con.sql(f"create view {table} as select * from "
                    f"read_parquet('{inputs}/{table}.parquet')")
        return {n: sorted(_norm(r) for r in con.sql(sql[n]).fetchall()) for n in names}
    finally:
        con.close()


def pairs_match_oracle(results_path: str, oracle: dict[str, list[tuple]]) -> float:
    """Share of queries whose collected rows equal the oracle's."""
    with open(results_path) as f:
        got = json.load(f)
    same = sum(sorted(_norm(r) for r in got.get(n, [])) == rows for n, rows in oracle.items())
    return same / len(oracle)
