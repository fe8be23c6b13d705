"""Physical-plan regression tests: these pin the scale properties the
engine is designed around (shuffle budget, broadcast joins, single
source scan, predicate pushdown)."""

import pytest
from pyspark.sql import functions as F

from cor_asv_ann_spark.operators.correction import correct_pipeline
from cor_asv_ann_spark.operators.similarity import brute_force_topk
from cor_asv_ann_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
)
from cor_asv_ann_spark.sources.spans import synth_spans


def test_flagship_has_no_union_and_one_scan(spark, sf_small):
    import re

    def sources_and_exchanges(plan):
        # numbered plan nodes only
        return (
            len(re.findall(r"^\(\d+\) (?:Scan parquet|InMemoryTableScan)", plan, re.M)),
            len(re.findall(r"^\(\d+\) Exchange", plan, re.M)),
        )

    src = synth_spans(spark, sf_small, noisy=True)
    plan = formatted_plan(correct_pipeline(src))
    assert "Union" not in plan  # media rides in-path: one source subtree
    # the flagship reads its input once and adds exactly its own 2
    # exchanges: the compute-sizing repartition before the inference UDF
    # and the doc reassembly groupBy. Counted against the input's own
    # plan, so this holds whether the input is a parquet scan behind the
    # fixture repartition or, when another test already cached the same
    # synth frame this session, an InMemoryTableScan whose relation
    # re-prints that provenance under the same numbering
    n_src, ex_src = sources_and_exchanges(formatted_plan(src))
    assert sources_and_exchanges(plan) == (n_src, ex_src + 2)


def test_knn_broadcasts_queries(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    plan = formatted_plan(brute_force_topk(emb, q, k=5))
    assert has_broadcast_join(plan)  # query side must broadcast, not shuffle


def test_strip_boilerplate_stays_jvm_side(spark, sf_small):
    """The boilerplate strip must be pure codegen — no Python evaluation
    node anywhere in the plan, single parquet scan."""
    from cor_asv_ann_spark.operators.extract import strip_boilerplate

    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = formatted_plan(strip_boilerplate(d))
    import re

    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans <= 1 or "InMemoryTableScan" in plan


def test_media_context_is_narrow(spark, sf_small):
    """Caption mining = pure array HOFs on the per-document spans array:
    ZERO operator-added exchanges (only the synth source's repartition),
    no window, no join, no Python beyond the synth source."""
    import re

    from cor_asv_ann_spark.operators.extract import media_context
    from cor_asv_ann_spark.sources.spans import synth_spans

    spans = synth_spans(spark, sf_small, noisy=False)
    plan = formatted_plan(media_context(spans))
    # a cached InMemoryRelation (left by other tests in the session)
    # re-prints its provenance plan, inflating raw exchange counts
    if "InMemoryTableScan" not in plan:
        n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_ex <= 1  # the synthetic source's own repartition only
    assert "Window" not in plan
    assert "Join" not in plan


def test_lm_counts_partial_aggregation(spark, sf_small):
    """The LM count agg must partial-aggregate map-side (HashAggregate
    appears below AND above the exchange)."""
    from cor_asv_ann_spark.operators.lm import char_ngram_counts

    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = formatted_plan(char_ngram_counts(d))
    assert plan.count("HashAggregate") >= 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bucketed_join_is_shuffle_free(spark, sf_small, tmp_path):
    """Co-located join strategy for repeated big-big joins at scale:
    both sides bucketed+sorted on the join key join with ZERO exchanges
    (and zero sorts) — the physical property the engine relies on when
    the span table and a lineage/metrics table are bucketed by doc_id
    in the warehouse."""
    import re

    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    for name, cols in (("bkt_a", ["doc_id", "lang"]), ("bkt_b", ["doc_id", "n_chars"])):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            d.select(*cols)
            .write.bucketBy(8, "doc_id")
            .sortBy("doc_id")
            .option("path", str(tmp_path / name))
            .saveAsTable(name)
        )
    try:
        # MERGE hint: at fixture size Spark would broadcast (also
        # shuffle-free but trivially so); the property under test is the
        # bucketed sort-merge path big-big joins take at scale
        j = spark.table("bkt_a").hint("merge").join(spark.table("bkt_b"), "doc_id")
        plan = formatted_plan(j)
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0
        assert "SortMergeJoin" in plan
        assert j.count() == d.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_filter_pushdown_to_parquet(spark, sf_small):
    d = spark.read.parquet(f"{sf_small}/documents.parquet").filter(
        F.col("lang") == "de"
    ).select("doc_id", "n_chars")
    plan = formatted_plan(d)
    pf = pushed_filters(plan)
    assert pf and any("lang" in f for f in pf)
    # column pruning: the scan must not read `text`
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema


def test_stateful_path_single_doc_exchange(spark, sf_small):
    """The stateful correction stage repartitions by doc_id and sorts
    WITHIN partitions only: one hash exchange on doc_id, a partition-
    local sort, and no global sort (a global sort would be a second,
    range-partitioned exchange — the exact thing the doc-keyed design
    avoids)."""
    import re

    from cor_asv_ann_spark.model.corrector import make_stateful_doc_corrector
    from cor_asv_ann_spark.model.keras_graph import RefSeq2Seq, write_keras_fixture
    from cor_asv_ann_spark.operators.correction import (
        assemble_lines,
        correct_lines_stateful,
        spans_with_line_no,
    )

    import tempfile
    with tempfile.TemporaryDirectory() as td:
        write_keras_fixture(f"{td}/m.h5", width=16, depth=1, seed=3, stateful=True)
        model = RefSeq2Seq.load_h5(f"{td}/m.h5")
    lines = assemble_lines(
        spans_with_line_no(synth_spans(spark, sf_small, noisy=True))
    )
    out = correct_lines_stateful(lines, make_stateful_doc_corrector(spark, model))
    plan = formatted_plan(out)
    # the UDF's input sort must be partition-local: in formatted mode
    # the Sort node's Arguments line ends "..., <global>, 0"
    local_sorts = re.findall(r"^Arguments: \[.*ASC.*\], false, 0", plan, re.M)
    global_sorts = re.findall(r"^Arguments: \[.*ASC.*\], true, 0", plan, re.M)
    assert local_sorts, plan
    assert not global_sorts, "stateful path must not global-sort"
    assert "rangepartitioning" not in plan.lower()
    # and the exchange feeding the UDF hashes on doc_id alone
    assert re.search(r"hashpartitioning\(doc_id#\d+, \d+\), REPARTITION_BY_NUM", plan)


def test_mark_affix_lexicon_broadcasts(spark, sf_small, tmp_path):
    """The affix-expanded lexicon is tiny (dictionary-bounded) — the
    IV/OOV marking must be EXACTLY ONE broadcast left join against the
    lexicon, never a shuffle join, a cartesian, or a corpus-sized
    self-join (the old semi-join + key-back-join shape rebroadcast a
    hit relation proportional to the corpus)."""
    import re

    from cor_asv_ann_spark.operators.mark import (
        lexicon_from_wordlist,
        mark_words,
        words_from_spans,
    )

    (tmp_path / "w.aff").write_text("SFX S Y 1\nSFX S 0 s .\n")
    (tmp_path / "w.dic").write_text("2\nword/S\nspan\n")
    lex = lexicon_from_wordlist(spark, str(tmp_path / "w.dic"))
    words = words_from_spans(synth_spans(spark, sf_small))
    plan = formatted_plan(mark_words(words, lex))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # formatted plans name each node twice (tree line + "(n) Node"
    # detail header) — count detail headers
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1


def test_words_from_spans_is_narrow(spark, sf_small, tmp_path):
    """Word positions come from a posexplode of the line frame: no
    window over (doc_id, line_no), hence no exchange at all."""
    import re

    from cor_asv_ann_spark.operators.mark import words_from_spans

    src = str(tmp_path / "spans")
    synth_spans(spark, sf_small).write.parquet(src)
    plan = formatted_plan(words_from_spans(spark.read.parquet(src)))
    assert not re.findall(r"^\(\d+\) (Exchange|Window)", plan, re.M), plan


def test_pagexml_ingest_single_wide_exchange(spark, tmp_path):
    """PAGE-XML ingest scale pin: scan (column-pruned to path+content)
    → Coalesce (narrow — no one-task-per-tiny-file storm) → ONE
    MapInPandas parse → explode → line reassembly with map-side partial
    aggregation and exactly ONE hash exchange. The listing must be a
    directory listing (pathGlobFilter), never a many-match Hadoop glob
    (≈2 ms/file of driver-side status calls)."""
    import re

    from cor_asv_ann_spark.operators.correction import (
        assemble_lines,
        spans_with_line_no,
    )
    from cor_asv_ann_spark.sources.pagexml import read_pagexml, synth_page_xml

    pages = tmp_path / "pages"
    pages.mkdir()
    for did in map(str, range(6)):
        (pages / f"{did}.xml").write_bytes(synth_page_xml(did, "a b c d"))
    lines = assemble_lines(spans_with_line_no(read_pagexml(spark, str(pages))))
    plan = formatted_plan(lines)
    # formatted plans print each node twice (tree summary + detail):
    # count numbered nodes only
    # exactly ONE Python parse stage (the spans-only reader emits Arrow
    # batches directly — MapInArrow — since r6; channel readers keep
    # MapInPandas)
    assert len(re.findall(r"^\(\d+\) MapIn(Pandas|Arrow)", plan, re.M)) == 1
    assert "Coalesce" in plan
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_ex == 1, plan[:2000]
    assert "partial_collect_list" in plan  # map-side combine before it


def test_align_vote_lines_plan(spark, tmp_path):
    """Workspace N-way vote (align_vote_lines): no cartesian anywhere,
    exactly one Arrow eval (the vote runs in ONE mapInPandas pass,
    not per-group), and the per-group line tables join as plain
    equi-joins on (doc_id, line_id) — co-partitionable at corpus
    scale."""
    import re

    from cor_asv_ann_spark.operators.align_groups import align_vote_lines
    from cor_asv_ann_spark.sources.pagexml import (
        line_table,
        read_pagexml_full,
        synth_page_xml,
    )

    for g in ("a", "b", "c"):
        d = tmp_path / g
        d.mkdir()
        (d / "p1.xml").write_bytes(
            synth_page_xml("p1", "one line here\nanother line there\n",
                           words_per_line=3)
        )
    tabs = [
        line_table(read_pagexml_full(spark, str(tmp_path / g), level="line"))
        for g in ("a", "b", "c")
    ]
    voted = align_vote_lines(tabs, method="majority")
    plan = formatted_plan(voted)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # ONE vote pass: a single top-level Arrow/Python eval node beyond
    # the three per-group parse UDFs (which are MapInPandas scans)
    n_vote = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
    n_map = len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M))
    assert n_map == 4, plan  # 3 parses + 1 vote
    assert n_vote == 0


def test_resumable_bucket_plan_is_the_flagship_plan(spark, sf_small, tmp_path, monkeypatch):
    """Each bucket of checkpoint.run_resumable runs the flagship plan:
    the narrow HOF line assembly (no groupBy(doc_id, line_no)
    aggregate) and the flagship's exchange count over the same kind of
    parquet source."""
    import re

    from pyspark.sql import DataFrameWriter

    from cor_asv_ann_spark.checkpoint import run_resumable

    src = str(tmp_path / "spans")
    synth_spans(spark, sf_small, noisy=True).write.parquet(src)
    spans = spark.read.parquet(src)
    out = str(tmp_path / "out")
    plans = []
    write_parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        if path.startswith(out):
            plans.append(formatted_plan(self._df))
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    run_resumable(spark, spans, out, str(tmp_path / "lineage"), "plan", n_buckets=2)
    assert len(plans) == 2

    def n_exchanges(plan):
        return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))

    flagship = formatted_plan(correct_pipeline(spans, with_confs=True))
    line_agg = re.compile(r"^Keys \[\d+\]: \[doc_id#\d+, line_no#\d+\]", re.M)
    assert not line_agg.search(flagship)
    for plan in plans:
        assert not line_agg.search(plan), plan
        assert n_exchanges(plan) == n_exchanges(flagship) == 2, plan


PYTHON_NODES = {"MapInArrow", "MapInPandas", "ArrowEvalPython"}


def _barrier_tail(df) -> set[str]:
    """Node names between ``_ordered``'s round-robin barrier (the child
    of the orderBy's range exchange) and the next exchange below it."""
    def kids(node):
        c = node.children()
        return [c.apply(i) for i in range(c.size())]

    def is_exchange(node, partitioning):
        return node.nodeName() == "Exchange" and node.outputPartitioning().toString().startswith(
            partitioning
        )

    node = df._jdf.queryExecution().executedPlan().initialPlan()
    while not is_exchange(node, "rangepartitioning"):
        (node,) = kids(node)
    (barrier,) = kids(node)
    assert is_exchange(barrier, "RoundRobinPartitioning")
    names, todo = set(), kids(barrier)
    while todo:
        node = todo.pop()
        if node.nodeName() != "Exchange":
            names.add(node.nodeName())
            todo.extend(kids(node))
    return names


@pytest.mark.parametrize(
    "query", ["layout_reading_order", "pagexml_lines", "embedding_near_dups"]
)
def test_ordered_barrier_tail_is_python(spark, sf_small, query):
    """``_ordered`` pays a result-row exchange to stop the orderBy's
    range sampling from re-running the segment below it; that only pays
    off when the segment is a Python stage. Each barrier query's tail
    must stay one (the embedding one is the fused verify MapInArrow)."""
    import __spark_entry__ as e

    tail = _barrier_tail(e.queries()[query](spark, sf_small))
    assert tail & PYTHON_NODES, tail
    if query == "embedding_near_dups":
        assert "MapInArrow" in tail
    # the detector tells a JVM-only tail apart
    assert not _barrier_tail(e._ordered(spark.range(10), "id")) & PYTHON_NODES


def test_pair_filter_has_no_lambda(spark, sf_small):
    """The first-surviving-band pair test is an unrolled OR of element
    comparisons: no higher-order function, no array built per pair."""
    import __spark_entry__ as e

    plan = e.queries()["dedup_simhash"](spark, sf_small)._jdf.queryExecution().executedPlan()
    conds, todo = [], [plan.initialPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Filter" and "_b.`_codes`" in node.condition().sql():
            conds.append(node.condition().sql())
        c = node.children()
        todo.extend(c.apply(i) for i in range(c.size()))
    assert len(conds) == 1, conds
    for banned in ("lambda", "zip_with", "exists", "array_position"):
        assert banned not in conds[0].lower(), conds[0]


def test_lsh_topk_scans_each_side_once(spark, sf_small):
    """The ANN search reads its vectors with the buckets: one parquet
    scan and one band-code UDF per side, one (broadcast) join. The cap
    is a window count over (band, code), which spills; no aggregation
    collects a bucket's vectors into one array."""
    import re

    from cor_asv_ann_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    plan = formatted_plan(lsh_topk(emb, q, k=5, max_bucket=100, portable=True))

    def nodes(name):
        return re.findall(rf"^\(\d+\) {name}\b.*$", plan, re.M)

    assert len(nodes("Scan parquet")) == 2, plan
    assert len(nodes("ArrowEvalPython")) == 2, plan
    assert len(nodes(r"\w*Join")) == 1 and has_broadcast_join(plan), plan
    windows = re.findall(r"^\(\d+\) Window\n(?:.+\n)*?Arguments: .*$", plan, re.M)
    assert any("band" in w and "code" in w for w in windows), plan
    assert "collect_list" not in plan and not nodes("ObjectHashAggregate"), plan
