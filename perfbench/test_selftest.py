"""Self-test of the benchmark: its checks, its generator and its report.

    python3 -m pytest perfbench -q        # from the root of a checkout

The end-to-end cases run every workload once on a tiny input (one cold
Spark job each, about two minutes in all).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import xml.etree.ElementTree as ET

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TINY = 24  # documents per workload in the end-to-end cases


def _dp_levenshtein(a: str, b: str) -> int:
    row = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, row[0] = row[0], i
        for j, cb in enumerate(b, 1):
            prev, row[j] = row[j], min(row[j] + 1, row[j - 1] + 1, prev + (ca != cb))
    return row[-1]


def test_levenshtein_matches_dynamic_programming():
    rng = random.Random(7)
    for _ in range(500):
        a = "".join(rng.choice("abſꝛ ") for _ in range(rng.randint(0, 70)))
        b = "".join(rng.choice("abſꝛ ") for _ in range(rng.randint(0, 70)))
        assert checks.levenshtein(a, b) == _dp_levenshtein(a, b)


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(run.DOCS))
def test_generator_is_seeded(tmp_path, workload):
    gen.generate(str(tmp_path / "a"), workload, 5, TINY)
    gen.generate(str(tmp_path / "b"), workload, 5, TINY)
    gen.generate(str(tmp_path / "c"), workload, 6, TINY)
    a, b, c = (_tree_bytes(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def test_pagexml_check_trips_on_a_corrupted_page(tmp_path):
    gen.generate(str(tmp_path), "pagexml_job_rule", 3, TINY)
    out = tmp_path / "out"
    shutil.copytree(tmp_path / "pages_clean", out)
    assert checks.span_seq_exact(str(tmp_path / "pages_clean"), str(out)) == 1.0
    assert checks.span_seq_exact(str(tmp_path / "pages_clean"),
                                 str(tmp_path / "pages_noisy")) < 1.0
    victim = sorted(out.iterdir())[0]
    tree = ET.parse(victim)
    unicode_el = next(tree.iter(f"{checks.PAGE_NS}Unicode"))
    unicode_el.text += "x"
    tree.write(victim, encoding="utf-8", xml_declaration=True)
    assert checks.span_seq_exact(str(tmp_path / "pages_clean"), str(out)) == (TINY - 1) / TINY


def test_spans_checks_trip_on_corrupted_spans(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    gen.generate(str(tmp_path), "spans_model_greedy", 3, TINY)
    clean, noisy = str(tmp_path / "spans_clean.parquet"), str(tmp_path / "spans_noisy.parquet")
    assert checks.mean_cer(clean, clean) == 0.0
    assert checks.mean_cer(clean, noisy) > 0.05
    assert checks.spans_skeleton_same(clean, noisy)
    rows = pq.read_table(clean).to_pylist()
    rows[0]["spans"][-1]["media_ref"] = "img://elsewhere"
    broken = str(tmp_path / "broken.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=pq.read_schema(clean)), broken)
    assert not checks.spans_skeleton_same(clean, broken)


def test_oracle_check_trips_on_a_corrupted_result(tmp_path):
    gen.generate(str(tmp_path), "curate_neardup_lm", 3, 200)
    oracle = checks.oracle_rows(str(tmp_path), run.CURATE_QUERIES)
    results = {n: [list(r) for r in rows] for n, rows in oracle.items()}
    path = tmp_path / "results.json"
    path.write_text(json.dumps(results))
    assert checks.pairs_match_oracle(str(path), oracle) == 1.0
    results["char_lm_counts"][0][-1] += 1
    path.write_text(json.dumps(results))
    assert checks.pairs_match_oracle(str(path), oracle) == 1 - 1 / len(oracle)


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.DOCS)


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "spans_model_greedy", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "2",
         "--seconds", "1", "--trace", str(trace), "--docs", str(TINY)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    full, last = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
    return full, last


QUALITY = {
    "pagexml_job_rule": "span_seq_exact",
    "spans_model_greedy": "cer_after",
    "curate_neardup_lm": "pairs_match_oracle",
}


@pytest.mark.parametrize("workload", sorted(run.DOCS))
def test_traced_run_reports_every_metric(workload):
    full, last = _run(workload, trace=1)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert {k: v["unit"] for k, v in last["metrics"].items()} == run.PER_LAYER
    for name, unit in {**run.END_TO_END, **run.REPORTED, QUALITY[workload]: "share"}.items():
        assert full["metrics"][name]["unit"] == unit
    assert full["metrics"]["error_rate"]["value"] == 0.0
    layers = {k: v["value"] for k, v in last["metrics"].items()}
    if workload == "pagexml_job_rule":
        assert full["metrics"]["span_seq_exact"]["value"] == 1.0
        # each of the job's buckets parses every page again
        assert 1 <= layers["pagexml.parses_per_page"] <= 8  # 8 at the time of writing
        assert layers["checkpoint.spark_jobs"] > 8
    elif workload == "spans_model_greedy":
        assert full["metrics"]["cer_after"]["value"] < full["metrics"]["cer_noisy"]["value"]
        assert layers["corrector.call_s"] > 0 and layers["corrector.lines_per_call"] > 0
    else:
        assert full["metrics"]["pairs_match_oracle"]["value"] == 1.0
        assert layers["similarity.candidates"] >= layers["similarity.verified"] > 0
    assert isinstance(full["contended"], bool) and len(full["load_avg_1m"]) == last["attempted"]
    assert len(full["steal_cores"]) == last["attempted"]


def test_untraced_run_reports_end_to_end_metrics():
    _, last = _run("spans_model_greedy", trace=0)
    assert last["correct"]
    assert {k: v["unit"] for k, v in last["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in last["metrics"].values())
