"""Round-6 optimization equivalence pins.

Every optimization that rewrote an operator's internals keeps a test
here proving the rewrite computes the SAME thing as the formulation it
replaced (or as an independent brute-force reference):

* ``_degrade_dist`` (changed-position count) == ``F.levenshtein`` of the
  CER degradation, property-tested over adversarial strings;
* ``asword_col`` (JVM replace-chain + regexp) == the pandas
  ``asword_normalizer`` over a stress alphabet, with and without a
  cascading charmap;
* ``bucket_pairs_nodup`` (first-surviving-band emission) and the fused
  embedding verify == the former window-cap + self-join + distinct pair
  set (cosines: a numpy einsum over collected vectors), at every code
  width and type, including the cap and the no-silent-caps Observation
  metrics;
* ``lsh_topk`` with the vectors on the banded rows == the former
  id-only distinct + vector join-back candidates, caps and Observation
  metrics included;
* ``adjusted_distance``'s equal-after-normalization fast path == the
  full difflib path (alignment length after grapheme recombination);
* ``char_ngram_counts``'s derived unigram rows == brute-force counts.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Observation, Row
from pyspark.sql import functions as F

ALPHABET = list("etaoins cl4o1m5xyzäöüſꝛß.-!?0123456789") + ["aͤ", "́"]


def _rand_text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(ALPHABET) for _ in range(n))


def test_degrade_dist_equals_levenshtein(spark):
    import __spark_entry__ as e

    rng = random.Random(7)
    rows = [Row(text=_rand_text(rng, rng.randint(0, 80))) for _ in range(400)]
    rows += [Row(text=t) for t in ("", "etaoins", "cl4o1m5", "ecl", "ttt", "o" * 50)]
    df = spark.createDataFrame(rows)
    lev = F.levenshtein(e._DEGRADE_SPARK(F.col("text")), F.col("text"))
    bad = df.select(
        (lev.cast("double") != e._degrade_dist(F.col("text"))).cast("int").alias("bad")
    ).agg(F.sum("bad").alias("s")).collect()[0].s
    assert bad == 0


STRESS_WORDS = [
    "", "Hello", "wörd", "aͤbc", "Schiff-fahrt", "1870", "—", "x…y",
    "ſtreet", "day's", "漢字かな", "mixed123abc", "́start", "end́",
    "a,b;c", "ÆØÅæøå", "Ʒʒ", "tab\there", "new\nline",
]


@pytest.mark.parametrize("charmap", [None, {"a": "b", "b": "a"}, {"aͤ": "ä", "s": ""}])
def test_asword_col_matches_pandas_normalizer(spark, charmap):
    from cor_asv_ann_spark.operators.mark import asword_col, asword_normalizer

    df = spark.createDataFrame([Row(word=w) for w in STRESS_WORDS])
    out = df.select(
        "word",
        asword_col(F.col("word"), charmap).alias("jvm"),
        asword_normalizer(charmap)(F.col("word")).alias("py"),
    ).collect()
    for r in out:
        assert r.jvm == r.py, f"{r.word!r}: jvm={r.jvm!r} py={r.py!r}"


def _old_self_join_pairs(
    banded, keys, id_col, max_bucket, observation=None, payload_cols=()
):
    """The pre-round-6 formulation (window cap + self-join + cross-band
    distinct), kept here as the reference semantics for
    ``bucket_pairs_nodup``: every capped in-bucket pair (a < b) once,
    with ``payload_cols`` emitted as <col>_a / <col>_b."""
    from cor_asv_ann_spark.operators.similarity import cap_buckets

    banded_b = banded
    if max_bucket is not None:
        banded_b = cap_buckets(banded, keys, max_bucket, None)
        banded = cap_buckets(banded, keys, max_bucket, observation)
    a, b = banded.alias("a"), banded_b.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
        )
        .distinct()
    )


def _assert_same_observation(obs_new, obs_ref, max_bucket, n_rows):
    """Drop metrics equal the reference's; uncapped, the reference does
    not observe, and nothing may be dropped."""
    mn = obs_new.get
    assert mn["rows_total"] == n_rows
    if max_bucket is None:
        assert mn["rows_dropped"] == 0 and mn["buckets_dropped"] == 0.0
        return
    mo = obs_ref.get
    assert mn["rows_total"] == mo["rows_total"]
    assert mn["rows_dropped"] == (mo["rows_dropped"] or 0)
    assert round(mn["buckets_dropped"]) == round(mo["buckets_dropped"] or 0.0)


def _once(rows, *fields):
    """The rows as a set of field tuples, asserting none repeats."""
    got = [tuple(getattr(r, f) for f in fields) for r in rows]
    assert len(got) == len(set(got)), "pair emitted twice"
    return set(got)


@pytest.mark.parametrize("max_bucket", [None, 4])
def test_bucket_pairs_matches_self_join(spark, max_bucket):
    """First-surviving-band emission == self-join + cross-band distinct:
    same pair set, each pair exactly once, same cap Observation."""
    from cor_asv_ann_spark.operators.similarity import bucket_pairs_nodup

    rng = random.Random(3)
    rows = [
        Row(doc_id=i, band=b, code=rng.randint(0, 5))
        for i in range(40)
        for b in range(3)
    ]
    banded = spark.createDataFrame(rows)
    obs_new, obs_old = Observation(), Observation()
    new = bucket_pairs_nodup(
        banded, "band", "code", "doc_id", 3, max_bucket, obs_new
    ).collect()
    old = _old_self_join_pairs(banded, ["band", "code"], "doc_id", max_bucket, obs_old)
    new_set = _once(new, "id_a", "id_b")
    assert new_set == {(r.id_a, r.id_b) for r in old.collect()} and new_set
    _assert_same_observation(obs_new, obs_old, max_bucket, len(rows))


def test_with_shingles_jvm_matches_python_slicing(spark):
    """The JVM transform/slice/array_join shingle window equals plain
    Python codepoint slicing + dict.fromkeys (= array_distinct's
    first-occurrence order) over a unicode stress set (combining
    marks, CJK, astral, short/empty) — the two formulations are
    value-interchangeable; the JVM one is kept for fresh-session speed
    (see the with_shingles docstring for the r6 A/B record)."""
    import re

    from cor_asv_ann_spark.operators.dedup import with_shingles

    cases = [
        "", "a", "ab", "abc", "abcd", "the the the", "Stra\u00dfe \u00fcber",
        "\u00e1b\u0107de", "\u6f22\u5b57\u6f22\u5b57\u30c6\u30b9\u30c8",
        "x\U0001d11ey\U0001d11ez\U0001d11ew", "AAAbbbAAA",
        "  spaced   out  ", None, "mix \u6f22 a\U0001d11eb \u017ftr",
    ]

    def py_shingles(x):
        if x is None:
            return []
        x = re.sub(r"\s+", " ", x).lower()
        if len(x) < 3:
            return []
        return list(dict.fromkeys(x[i : i + 3] for i in range(len(x) - 2)))

    df = spark.createDataFrame([(c,) for c in cases], "text string")
    rows = with_shingles(df, "text", 3).collect()
    by_text = {r.text: r.shingles for r in rows}
    for c in cases:
        assert by_text[c] == py_shingles(c), f"{c!r}: {by_text[c]}"


@pytest.mark.parametrize("max_bucket", [None, 4])
def test_bucket_pairs_nodup_matches_dedup(spark, max_bucket):
    """The first-band test works at any code width and type: full-range
    64-bit codes (the former packed mask held ≤ 63 bits in all), strings
    and minhash-style structs, each against the self-join reference."""
    from cor_asv_ann_spark.operators.similarity import bucket_pairs_nodup

    rng = random.Random(7)
    wide = [rng.randint(-(2**63), 2**63 - 1) for _ in range(6)]
    kinds = {
        "long": lambda c: wide[c],
        "string": lambda c: f"code-{c}",
        "struct": lambda c: Row(k0=f"h{c}", k1=f"h{c % 2}"),
    }
    draws = [(i, b, rng.randint(0, 5)) for i in range(40) for b in range(3)]
    for kind, code in kinds.items():
        banded = spark.createDataFrame(
            [Row(doc_id=i, band=b, code=code(c)) for i, b, c in draws]
        )
        obs_new, obs_old = Observation(), Observation()
        new = bucket_pairs_nodup(
            banded, "band", "code", "doc_id", 3, max_bucket, obs_new
        ).collect()
        old = _old_self_join_pairs(
            banded, ["band", "code"], "doc_id", max_bucket, obs_old
        ).collect()
        new_set = _once(new, "id_a", "id_b")
        assert new_set == {(r.id_a, r.id_b) for r in old} and new_set, kind
        _assert_same_observation(obs_new, obs_old, max_bucket, len(draws))


def test_bucket_pairs_nodup_dropped_first_band_rescue(spark):
    """A pair whose FIRST matching band is over-capped must still be
    emitted from its first SURVIVING matching band (codes are nulled
    post-cap, so survival — not raw code equality — drives emission)."""
    from cor_asv_ann_spark.operators.similarity import bucket_pairs_nodup

    rows = [Row(doc_id=i, band=0, code=0) for i in range(10)]  # capped out
    rows += [Row(doc_id=0, band=1, code=7), Row(doc_id=1, band=1, code=7)]
    rows += [Row(doc_id=i, band=1, code=i - 2) for i in range(2, 8)]  # singletons
    banded = spark.createDataFrame(rows)
    out = bucket_pairs_nodup(banded, "band", "code", "doc_id", 2, 4, None)
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(0, 1)}


def _simhash_docs(spark, n=60, seed=11):
    rng = random.Random(seed)
    base_words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    docs = []
    for i in range(n):
        words = [base_words[rng.randint(0, 2)] for _ in range(12)]
        if rng.random() < 0.5:
            words[rng.randint(0, 11)] = base_words[rng.randint(3, 5)]
        docs.append(Row(doc_id=i, text=" ".join(words)))
    return spark.createDataFrame(docs)


def _simhash_reference(sh, bits, max_hamming, max_bucket, observation):
    """Capped in-bucket pairs over the 4 simhash chunks → hamming →
    cross-band distinct."""
    cb = bits // 4
    chunks = F.array(*[
        F.shiftright(F.col("simhash"), c * cb).bitwiseAND(F.lit((1 << cb) - 1))
        for c in range(4)
    ])
    banded = sh.select("doc_id", "simhash", F.posexplode(chunks).alias("ci", "cv"))
    return (
        _old_self_join_pairs(
            banded, ["ci", "cv"], "doc_id", max_bucket, observation, ["simhash"]
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def test_bucket_pairs_nodup_payloads_and_simhash_query(spark):
    """Payload columns ride correctly, and the simhash query's
    first-match formulation reproduces the reference formulation's rows
    (including hamming values) on a corpus with real near-dups."""
    from cor_asv_ann_spark.operators.dedup import simhash, simhash_near_pairs

    sh = simhash(_simhash_docs(spark))
    rows_new = simhash_near_pairs(sh, max_hamming=6, max_bucket=8).collect()
    ref = _simhash_reference(sh, 32, 6, 8, None).collect()
    new_set = _once(rows_new, "id_a", "id_b", "hamming")
    assert new_set == {(r.id_a, r.id_b, r.hamming) for r in ref}
    assert len(new_set) > 0


@pytest.mark.parametrize("max_bucket", [None, 12])
def test_simhash_64_bit_chunks(spark, max_bucket):
    """simhash(bits=64) bands on 16-bit chunks (68 bits of codes plus
    presence, past the former packed mask): one pass, each pair once,
    equal to the reference, drop metrics included."""
    from cor_asv_ann_spark.operators.dedup import simhash, simhash_near_pairs

    sh = simhash(_simhash_docs(spark, n=80, seed=5), bits=64)
    obs_new, obs_ref = Observation(), Observation()
    new = simhash_near_pairs(
        sh, max_hamming=12, bits=64, max_bucket=max_bucket, observation=obs_new
    ).collect()
    ref = _simhash_reference(sh, 64, 12, max_bucket, obs_ref).collect()
    new_set = _once(new, "id_a", "id_b", "hamming")
    assert new_set == {(r.id_a, r.id_b, r.hamming) for r in ref} and new_set
    _assert_same_observation(obs_new, obs_ref, max_bucket, 4 * 80)
    if max_bucket is not None:
        assert obs_new.get["rows_dropped"] > 0


@pytest.mark.parametrize("max_bucket", [None, 3])
def test_minhash_struct_codes(spark, max_bucket):
    """lsh_candidates bands on struct<string, string> minhash slices and
    emits each candidate once, with no pair distinct, equal to the
    self-join reference, drop metrics included."""
    from cor_asv_ann_spark.operators.dedup import (
        lsh_candidates,
        minhash_signature,
        with_shingles,
    )

    sig = minhash_signature(with_shingles(_simhash_docs(spark, n=50, seed=2)), "doc_id")
    obs_new, obs_ref = Observation(), Observation()
    new = lsh_candidates(sig, "doc_id", 8, 2, max_bucket, obs_new).collect()
    bands = F.array(*[
        F.struct(F.col(f"mh{2 * b}").alias("k0"), F.col(f"mh{2 * b + 1}").alias("k1"))
        for b in range(4)
    ])
    banded = sig.select("doc_id", F.posexplode(bands).alias("band_idx", "band_val"))
    ref = _old_self_join_pairs(
        banded, ["band_idx", "band_val"], "doc_id", max_bucket, obs_ref
    ).collect()
    new_set = _once(new, "id_a", "id_b")
    assert new_set == {(r.id_a, r.id_b) for r in ref} and new_set
    _assert_same_observation(obs_new, obs_ref, max_bucket, 4 * 50)
    if max_bucket is not None:
        assert obs_new.get["rows_dropped"] > 0


def _clustered_emb(spark, noise=0.35, id_type="long"):
    """80 unit vectors in 8 dims around 5 centers."""
    import numpy as np

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((5, 8))
    vecs = centers[np.arange(80) % 5] + noise * rng.standard_normal((80, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        f"vec_id {id_type}, embedding array<double>",
    )


def _cosine_reference(emb, n_bands, n_bits, threshold, max_bucket, observation):
    """Self-join candidates over the portable band codes, then a
    numpy einsum over the collected vectors and Spark's HALF_UP rounding."""
    import numpy as np

    from cor_asv_ann_spark.operators.similarity import band_codes_udf

    codes = band_codes_udf(n_bands, n_bits, 42, True)
    bb = emb.select(
        F.col("vec_id"), F.posexplode(codes(F.col("embedding"))).alias("band", "code")
    )
    cand = _old_self_join_pairs(bb, ["band", "code"], "vec_id", max_bucket, observation)
    pairs = [(r.id_a, r.id_b) for r in cand.collect()]
    vec = {r.vec_id: r.embedding for r in emb.collect()}
    if not pairs:
        return set()
    mat = lambda ids: np.array([vec[i] for i in ids], dtype=np.float64)  # noqa: E731
    dots = np.einsum("ij,ij->i", mat([a for a, _ in pairs]), mat([b for _, b in pairs]))
    out = {(a, b, _round_half_up6(float(d))) for (a, b), d in zip(pairs, dots)}
    return {r for r in out if r[2] >= threshold}


@pytest.mark.parametrize("max_bucket", [None, 25])
def test_bucket_verify_dots_matches_pair_path(spark, max_bucket):
    """The fused per-bucket verify (masked_buckets + bucket_verify_dots
    + JVM round/filter) returns exactly the rows of the self-join
    candidates dotted in numpy, caps included."""
    from cor_asv_ann_spark.operators.dedup import embedding_near_dups

    emb = _clustered_emb(spark, noise=3.0)
    obs_new, obs_ref = Observation(), Observation()
    fused = embedding_near_dups(
        emb, threshold=0.1, n_bands=4, n_bits=2, max_bucket=max_bucket,
        observation=obs_new, portable=True,
    ).collect()
    ref = _cosine_reference(emb, 4, 2, 0.1, max_bucket, obs_ref)
    got = _once(fused, "id_a", "id_b", "cosine")
    assert got == ref and len(got) > 0
    _assert_same_observation(obs_new, obs_ref, max_bucket, 4 * 80)


@pytest.mark.parametrize("max_bucket", [None, 6])
def test_embedding_near_dups_at_its_defaults(spark, max_bucket):
    """n_bands=8 × n_bits=8 (72 code bits, past the former packed mask)
    takes the same fused path: each pair once, equal to the reference,
    drop metrics included."""
    from cor_asv_ann_spark.operators.dedup import embedding_near_dups

    emb = _clustered_emb(spark)
    obs_new, obs_ref = Observation(), Observation()
    got = _once(
        embedding_near_dups(
            emb, threshold=0.5, max_bucket=max_bucket, observation=obs_new,
            portable=True,
        ).collect(),
        "id_a", "id_b", "cosine",
    )
    assert got == _cosine_reference(emb, 8, 8, 0.5, max_bucket, obs_ref) and got
    _assert_same_observation(obs_new, obs_ref, max_bucket, 8 * 80)
    if max_bucket is not None:
        assert obs_new.get["rows_dropped"] > 0


def test_embedding_near_dups_keeps_int_ids(spark):
    """id_a/id_b come back in the id column's own type, at a narrow
    code width and at the defaults."""
    from cor_asv_ann_spark.operators.dedup import embedding_near_dups

    emb = _clustered_emb(spark, id_type="int")
    for widths in ({"n_bands": 4, "n_bits": 2}, {}):
        out = embedding_near_dups(emb, threshold=0.5, **widths)
        assert out.schema["id_a"].dataType.simpleString() == "int", widths
        assert out.schema["id_b"].dataType.simpleString() == "int", widths
        rows = out.collect()
        assert rows and all(r.id_a < r.id_b for r in rows)


def test_embedding_near_dups_builds_without_jobs(spark):
    """Building the DataFrame runs no Spark job: nothing is counted,
    collected or broadcast before an action."""
    from cor_asv_ann_spark.operators.dedup import embedding_near_dups

    sc = spark.sparkContext
    emb = _clustered_emb(spark)
    group = "embedding-near-dups-build"
    sc.setJobGroup(group, "build only")
    try:
        out = embedding_near_dups(emb, threshold=0.5)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        out.collect()  # the tracker does see the group's jobs
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _old_lsh_topk(corpus, queries, k, n_bands, n_bits, max_bucket, observation):
    """The former ``lsh_topk`` formulation, kept as its reference: banded
    (id, band, code) rows, the window-count ``cap_buckets`` on the corpus
    side only, a broadcast band join, a pair distinct, the vectors
    joined back to both sides, then the JVM dot and the top-k window."""
    from pyspark.sql import Window

    from cor_asv_ann_spark.operators.similarity import band_codes_udf, cap_buckets, dot

    codes = band_codes_udf(n_bands, n_bits, 42, True)

    def banded(df):
        return df.select(
            F.col("vec_id"), F.posexplode(codes(F.col("embedding"))).alias("band", "code")
        )

    cb = banded(corpus)
    if max_bucket is not None:
        cb = cap_buckets(cb, ["band", "code"], max_bucket, observation)
    qb = banded(queries).withColumnRenamed("vec_id", "query_id")
    cand = (
        cb.join(F.broadcast(qb), ["band", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(F.col("query_id"), F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qv = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    cv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cosine", F.round(dot(F.col("qvec"), F.col("cvec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


@pytest.mark.parametrize("max_bucket", [None, 125, 50])
def test_lsh_topk_matches_banded_join_back(spark, sf_small, max_bucket):
    """``lsh_topk`` with the vectors on the banded rows and the cosine
    taken before the pair distinct returns the rows of the former
    id-only distinct + vector join-back formulation. k is the corpus
    size, so the whole candidate set is compared, not only the top k;
    the caps drop some (125) and all (50) of the 32 buckets."""
    from cor_asv_ann_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    k = emb.count()
    capped = max_bucket is not None
    obs_new, obs_ref = Observation(), Observation()
    new = lsh_topk(
        emb, q, k=k, n_bands=8, n_bits=2, max_bucket=max_bucket,
        observation=obs_new if capped else None, portable=True,
    ).collect()
    ref = _old_lsh_topk(emb, q, k, 8, 2, max_bucket, obs_ref).collect()
    assert sorted(new) == sorted(ref)
    assert bool(new) == (max_bucket != 50)
    if capped:
        mn, mo = obs_new.get, obs_ref.get
        assert mn["rows_total"] == mo["rows_total"] == 8 * k
        assert mn["rows_dropped"] == mo["rows_dropped"] > 0
        assert round(mn["buckets_dropped"]) == round(mo["buckets_dropped"])


def _round_half_up6(x: float) -> float:
    """Spark's F.round (HALF_UP on the decimal representation)."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def test_bucket_pairs_payload_cols(spark):
    from cor_asv_ann_spark.operators.similarity import bucket_pairs_nodup

    rows = [
        Row(doc_id=i, payload=i * 10, ci=0, cv=i % 2) for i in range(6)
    ]
    banded = spark.createDataFrame(rows)
    out = bucket_pairs_nodup(
        banded, "ci", "cv", "doc_id", 1, None, None, payload_cols=["payload"]
    ).collect()
    for r in out:
        assert r.id_a < r.id_b
        assert r.payload_a == r.id_a * 10 and r.payload_b == r.id_b * 10
    assert {(r.id_a, r.id_b) for r in out} == {(0, 2), (0, 4), (2, 4), (1, 3), (1, 5), (3, 5)}


def test_adjusted_distance_fast_path_matches_full():
    from cor_asv_ann_spark.corelib.align import adjusted_distance

    cases = [
        ("hello", None),
        ("aͤbc", None),            # combining mark merges onto 'a'
        ("́abc", None),            # leading mark cannot merge
        (".́x", None),             # mark after punctuation: no merge
        ("aſꝛb", "historic_latin"),     # L2-normalized equal
        ("", None),
    ]
    for s, norm in cases:
        fast = adjusted_distance(s, s, norm, 1)
        d_full, n_full, pairs = adjusted_distance(s, s, norm, 1, return_alignment=True)
        assert fast == (d_full, n_full), (s, fast, (d_full, n_full))
        assert n_full == len(pairs)


def test_char_lm_counts_derived_unigrams(spark):
    from collections import Counter

    from cor_asv_ann_spark.operators.lm import char_ngram_counts

    texts = ["abcab", "bca", "", "aa"]
    df = spark.createDataFrame([Row(text=t) for t in texts])
    got = {
        (r.ctx, r.ch): r.n for r in char_ngram_counts(df, "text", order=3).collect()
    }
    want: Counter = Counter()
    for t in texts:
        for i, c in enumerate(t):
            want[("", c)] += 1          # unigram fallback row per char
            if i > 0:
                want[(t[max(i - 2, 0):i], c)] += 1
    assert got == dict(want)


def test_char_lm_counts_packed_key_matches_brute_force_unicode(spark):
    """The order<=3 path packs (ctx, ch) into one bigint (cp+1 per
    21-bit field) and decodes only the aggregated table — pin it against
    a brute-force Python count over a unicode stress corpus: combining
    marks, CJK, astral-plane codepoints (>0xFFFF), and a NUL (cp 0 must
    not alias with the 'absent context' sentinel)."""
    from collections import Counter

    from cor_asv_ann_spark.operators.lm import char_ngram_counts

    texts = [
        "héllo wörld",
        "日本語テキスト",
        "\U0001d518\U0001d52b\U0001d526 frak",  # astral
        "écombining",
        "embedded\x00nul",
        "",
        "aa",
    ]
    df = spark.createDataFrame([Row(text=t) for t in texts])
    got = {
        (r.ctx, r.ch): r.n for r in char_ngram_counts(df, "text", order=3).collect()
    }
    want: Counter = Counter()
    for t in texts:
        for i, c in enumerate(t):
            want[("", c)] += 1
            if i > 0:
                want[(t[max(i - 2, 0):i], c)] += 1
    assert got == dict(want)


def test_synth_spans_jvm_matches_python_generator(spark):
    """The word-level span synthesis is a pure-JVM projection
    (_synth_spans_jvm); pin it byte-identical against the original
    Python generator (build_spans + degrade_reversible in a
    mapInPandas) over edge shapes: empty text, one word, exactly one
    full line, line+1, last-line-short multiples of the media period,
    and degradable characters (w/s/r/a sprinkle interactions)."""
    import pandas as pd

    from cor_asv_ann_spark.corelib.noise import degrade_reversible
    from cor_asv_ann_spark.schema import SPANS_SCHEMA
    from cor_asv_ann_spark.sources.spans import _synth_spans_jvm, build_spans

    texts = [
        ("e0", ""),
        ("e1", "one"),
        ("e7", " ".join(f"w{i}" for i in range(7))),
        ("e8", " ".join(f"w{i}" for i in range(8))),
        ("e28", " ".join(f"aws{i}" for i in range(28))),
        ("e29", " ".join(f"rsau{i}" for i in range(29))),
        ("e56", " ".join(f"x{i}" for i in range(56))),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])

    def python_synth(noisy):
        def gen(batches):
            for pdf in batches:
                rows = []
                for doc_id, text in zip(pdf["doc_id"].astype(str), pdf["text"]):
                    spans = build_spans(doc_id, text, level="word")
                    if noisy:
                        spans = [
                            (k,
                             degrade_reversible(t, f"{doc_id}:{o}")
                             if k in ("word", "glyph") else t,
                             r, o)
                            for (k, t, r, o) in spans
                        ]
                    rows.append({
                        "doc_id": doc_id,
                        "spans": [
                            {"kind": k, "text": t, "media_ref": r, "offset": o}
                            for (k, t, r, o) in spans
                        ],
                    })
                yield pd.DataFrame(rows, columns=["doc_id", "spans"])

        return docs.mapInPandas(gen, schema=SPANS_SCHEMA)

    def canon(df):
        return {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in df.collect()}

    for noisy in (False, True):
        assert canon(python_synth(noisy)) == canon(_synth_spans_jvm(docs, noisy))
