"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is written here, outside the
timed region, from ``--seed`` alone: the same seed gives byte-identical
files. The seed picks the document texts, the embedding vectors and the
document keys, so the noise gates, the salt buckets (``xxhash64`` of the
doc id) and the LSH codes all move with it.

Files written under ``<root>/``:

``documents.parquet`` / ``embeddings.parquet``
    The curate inputs, in the schema the declared queries read.
``pages_noisy/`` / ``pages_clean/``
    One PAGE-XML file per page: regions, lines and words with Coords and
    TextEquivs. The noisy corpus applies the reversible historic-glyph
    channel to about two thirds of the words.
``spans_noisy.parquet`` / ``spans_clean.parquet``
    The interleaved span table (word, space, newline and media spans).

The generator does not import the program: it shares only the file
formats with it, so a change to the program cannot change its inputs.
"""

from __future__ import annotations

import hashlib
import os
import xml.etree.ElementTree as ET

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the synthetic corpus vocabulary the committed model fixture was trained on
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
WORDS_PER_LINE = 7
MEDIA_EVERY = 4
# GT (modern) -> OCR (historic), applied in this order; the rule
# corrector inverts it exactly
NOISE = (("w", "vv"), ("ä", "aͤ"), ("ö", "oͤ"), ("ü", "uͤ"), ("s", "ſ"), ("r", "ꝛ"))
PAGE_NS = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
EMB_DIMS = 64
DUP_SHARE = 0.05


def key_int(key: str) -> int:
    return int.from_bytes(hashlib.md5(key.encode("utf-8")).digest()[:8], "big")


def degrade(word: str, key: str) -> str:
    """Historic-glyph substitutions on about 2/3 of words (hash-gated)."""
    if key_int(key) % 3 == 0:
        return word
    for gt, ocr in NOISE:
        word = word.replace(gt, ocr)
    return word


def doc_texts(seed: int, n_docs: int, umlauts: bool) -> list[str]:
    """Seeded document texts; ``DUP_SHARE`` of them copy an earlier
    document with one word appended, so exact and near duplicates exist.
    ``umlauts`` turns some a into ä so the correctors' NFC path runs; the
    curate oracle queries are kept to the ASCII texts they are checked on."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n = int(rng.integers(8, 100))
        words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n)]
        if umlauts:
            words = [w.replace("a", "ä") if rng.random() < 0.12 else w for w in words]
        texts.append(" ".join(words))
    return texts


def page_id(seed: int, i: int) -> str:
    return f"s{seed}p{i:05d}"


def write_documents(path: str, seed: int, texts: list[str]) -> None:
    rng = np.random.default_rng(seed + 1)
    base = seed * 1_000_000
    table = pa.table(
        {
            "doc_id": pa.array([base + i for i in range(len(texts))], pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), len(texts))],
            "source": [f"src{i % 20}" for i in range(len(texts))],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def write_embeddings(path: str, seed: int, n: int) -> None:
    rng = np.random.default_rng(seed + 2)
    vecs = rng.standard_normal((n, EMB_DIMS))
    for i in range(1, n):
        if rng.random() < DUP_SHARE:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.3 * rng.standard_normal(EMB_DIMS)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64) + seed * 1_000_000),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    pq.write_table(table, path)


def page_lines(pid: str, text: str, noisy: bool) -> list[list[tuple[str, str, str]]]:
    """Lines of (word id, Coords points, text) in reading order."""
    words = text.split()
    lines = []
    for li, start in enumerate(range(0, len(words), WORDS_PER_LINE)):
        line = []
        for wi, w in enumerate(words[start : start + WORDS_PER_LINE]):
            wid = f"{pid}_l{li}_w{wi}"
            pts = f"{wi * 100},{li * 40} {wi * 100 + 90},{li * 40 + 38}"
            line.append((wid, pts, degrade(w, f"{pid}:{wid}") if noisy else w))
        lines.append(line)
    return lines


def page_xml(pid: str, lines: list[list[tuple[str, str, str]]]) -> bytes:
    """Two regions in a ReadingOrder, serialized in reverse so XML
    document order differs from reading order."""

    def sub(parent, name, **attrs):
        el = ET.SubElement(parent, f"{{{PAGE_NS}}}{name}")
        for k, v in attrs.items():
            el.set(k, str(v))
        return el

    def text_equiv(parent, text):
        sub(sub(parent, "TextEquiv", conf="0.9000"), "Unicode").text = text

    root = ET.Element(f"{{{PAGE_NS}}}PcGts")
    page = sub(root, "Page", imageFilename=f"{pid}.png", imageWidth=1000, imageHeight=1400)
    half = (len(lines) + 1) // 2
    blocks = [lines[:half], lines[half:]] if len(lines) > 1 else [lines]
    rids = [f"{pid}_r{i}" for i in range(len(blocks))]
    og = sub(sub(page, "ReadingOrder"), "OrderedGroup", id=f"{pid}_ro")
    for i, rid in enumerate(rids):
        sub(og, "RegionRefIndexed", index=i, regionRef=rid)
    for ri in reversed(range(len(blocks))):
        region = sub(page, "TextRegion", id=rids[ri])
        sub(region, "Coords", points=f"0,{ri * 700} 1000,{ri * 700 + 690}")
        for li, line in enumerate(blocks[ri]):
            tl = sub(region, "TextLine", id=f"{rids[ri]}_l{li}")
            sub(tl, "Coords", points=f"0,{li * 40} 1000,{li * 40 + 38}")
            for wid, pts, text in line:
                word = sub(tl, "Word", id=wid)
                sub(word, "Coords", points=pts)
                text_equiv(word, text)
            text_equiv(tl, " ".join(t for _, _, t in line))
    return ET.tostring(root, encoding="utf-8", xml_declaration=True)


def doc_spans(doc_id: str, text: str, noisy: bool) -> list[dict]:
    """Interleaved spans of one document: lines of ``WORDS_PER_LINE``
    words with space spans between them, a newline span closing each
    line and a media span after every ``MEDIA_EVERY``-th line."""
    spans: list[dict] = []

    def emit(kind, txt, ref=None):
        spans.append({"kind": kind, "text": txt, "media_ref": ref, "offset": len(spans)})

    words = text.split()
    for li, start in enumerate(range(0, len(words), WORDS_PER_LINE)):
        line = words[start : start + WORDS_PER_LINE]
        for wi, w in enumerate(line):
            off = len(spans)
            emit("word", degrade(w, f"{doc_id}:{off}") if noisy else w, f"xy://{doc_id}/{off}")
            if wi + 1 < len(line):
                emit("space", " ")
        emit("newline", "\n")
        if (li + 1) % MEDIA_EVERY == 0:
            emit("media", "", f"img://{doc_id}/{li + 1}")
    return spans


def write_spans(path: str, seed: int, texts: list[str], noisy: bool) -> None:
    ids = [page_id(seed, i) for i in range(len(texts))]
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    table = pa.table(
        {
            "doc_id": ids,
            "spans": pa.array([doc_spans(d, t, noisy) for d, t in zip(ids, texts)],
                              pa.list_(span)),
        }
    )
    pq.write_table(table, path, row_group_size=max(1, len(texts) // 8))


def write_pages(out_dir: str, seed: int, texts: list[str], noisy: bool) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i, text in enumerate(texts):
        pid = page_id(seed, i)
        with open(os.path.join(out_dir, f"{pid}.xml"), "wb") as f:
            f.write(page_xml(pid, page_lines(pid, text, noisy)))


def generate(root: str, workload: str, seed: int, n_docs: int) -> dict:
    """Materialize the inputs ``workload`` reads under ``root``."""
    os.makedirs(root, exist_ok=True)
    texts = doc_texts(seed, n_docs, umlauts=workload != "curate_neardup_lm")
    if workload == "pagexml_job_rule":
        write_pages(f"{root}/pages_noisy", seed, texts, noisy=True)
        write_pages(f"{root}/pages_clean", seed, texts, noisy=False)
    elif workload == "spans_model_greedy":
        write_spans(f"{root}/spans_noisy.parquet", seed, texts, noisy=True)
        write_spans(f"{root}/spans_clean.parquet", seed, texts, noisy=False)
    elif workload == "curate_neardup_lm":
        write_documents(f"{root}/documents.parquet", seed, texts)
        write_embeddings(f"{root}/embeddings.parquet", seed, n_docs)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return {"docs": n_docs}
