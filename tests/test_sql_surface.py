"""SQL-first usage: the registered views answer the engine's queries in
plain spark.sql."""

import os

from cor_asv_ann_spark.sql import register_all

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sql_surface(spark, sf_small):
    register_all(spark, sf_small)
    # corpus CER in pure SQL over the span views
    cer = spark.sql(
        """
        WITH pairs AS (
          SELECT g.doc_id, g.line_no,
                 concat_ws('', g.texts) AS gt_text,
                 concat_ws('', o.texts) AS ocr_text
          FROM lines_gt g JOIN lines_ocr o USING (doc_id, line_no)
          WHERE concat_ws('', g.texts) <> '')
        SELECT sum(levenshtein(ocr_text, gt_text))
               / sum(greatest(length(ocr_text), length(gt_text))) AS cer
        FROM pairs
        """
    ).collect()[0].cer
    assert 0.0 < cer < 0.5

    # reading-order reassembly in SQL
    doc = spark.sql(
        """
        SELECT doc_id,
               concat_ws('', transform(
                 array_sort(collect_list(struct(s.offset, s.text))), x -> x.text)) AS text
        FROM (SELECT doc_id, explode(spans) AS s FROM spans_gt)
        GROUP BY doc_id ORDER BY doc_id LIMIT 1
        """
    ).collect()[0]
    assert doc.text.endswith("\n")

    # star-schema join still reachable
    n = spark.sql(
        "SELECT count(*) AS n FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
    ).collect()[0].n
    assert n > 0


def test_driver_contract_keys_aligned():
    """Every queries() entry must have an oracle_sql() twin and vice
    versa (the driver's correctness gate compares them pairwise — a
    missing oracle silently downgrades a query to rows-only), and
    bench.py's suite list must name real queries."""
    import sys

    sys.path.insert(0, ROOT)
    import __spark_entry__ as e

    q, o = set(e.queries()), set(e.oracle_sql())
    assert q == o, (sorted(q - o), sorted(o - q))

    import importlib.util

    spec = importlib.util.spec_from_file_location("bench", f"{ROOT}/bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    # the suite list lives inside main(); pull it from the source text
    src = open(f"{ROOT}/bench.py").read()
    import re

    block = re.search(r"bench_queries = \[(.*?)\]", src, re.S).group(1)
    names = re.findall(r'"([a-z_0-9]+)"', block)
    missing = [n for n in names if n not in q]
    assert not missing, missing
