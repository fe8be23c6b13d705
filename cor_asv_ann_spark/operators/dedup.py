"""Deduplication operators for web-scale corpora.

Exact (hash groupBy), MinHash+LSH (shingle → minhash → band →
bucket pairs), SimHash, n-gram Jaccard verification, and
embedding-cosine near-dup. Everything except the SimHash bit-packing and
the embedding projection + per-bucket cosine kernel is pure
builtin-function SQL (JVM side) so the shuffle keys and band buckets
behave identically at 100 TB; all three near-dup ops draw candidates
from one banded-pair primitive (``similarity.bucket_pairs_nodup`` /
``masked_buckets``) over bounded buckets — never a full cross join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalized_text(text_col: Column) -> Column:
    return F.lower(F.regexp_replace(text_col, r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5 over normalized text → groupBy.
    Returns one row per duplicate group with the keeper (min id) and
    count. Map-side combinable; scales as a single hash aggregation."""
    return (
        df.select(F.md5(normalized_text(F.col(text_col))).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def chunk_exact_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 15,
) -> DataFrame:
    """Passage-grain exact dedup — the web-scale approximation of exact
    substring dedup (suffix-array dedup run at chunk grain when the
    corpus is too big for one array): each document splits into
    consecutive ``width``-word chunks (pure JVM: sequence + slice over
    the once-split word array, NO explode-then-regroup shuffle), and a
    chunk occurring in ≥2 distinct documents is a duplicated passage.
    One posexplode → one hash aggregation; at 100 TB this is the same
    single-agg shape as doc-grain exact_dedup, ~n_words/width rows in
    flight."""
    # word array hoisted into a column: inside the transform lambda the
    # split expression gets no loop-invariant code motion, so the inline
    # form re-normalized and re-split the document once per chunk
    words = F.col("_ws")
    n_chunks = F.ceil(F.size(words) / F.lit(width)).cast("int")
    chunks = F.when(
        F.size(words) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(words, i * width + 1, width), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = df.withColumn(
        "_ws", F.split(normalized_text(F.col(text_col)), " ")
    ).select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    return (
        ex.groupBy("chunk")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") > 1)
    )


def drop_exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus filter: keep exactly one row (min id) per normalized-text
    fingerprint. A window rank over the hash key — one shuffle, no join
    back (the groupBy+join formulation shuffles the corpus twice)."""
    from pyspark.sql import Window

    h = F.md5(normalized_text(F.col(text_col)))
    w = Window.partitionBy(h).orderBy(id_col)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def with_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct character n-grams over normalized text (JVM-side via
    transform/sequence).

    COMPLEXITY: slices a once-split char-array column (O(n-gram) per
    position ⇒ linear per doc) — the substring(_nt_, i, k) formulation
    is a codepoint scan from the string start on every call, i.e.
    quadratic per document (same fix as lm.char_ngram_counts).

    A vectorized pandas-UDF variant (Python slicing + dict.fromkeys,
    value-identical — still pinned in test_optimization_equivalence)
    was A/B-measured r6 and REVERTED: in fresh sessions — the frozen
    bench's shape — minhash_lsh_pairs ran 1.2-1.3 s (JVM) vs
    1.97-2.0 s (pandas) best-of-5, consistent across 5 session pairs;
    the Python stage's worker spin-up + Arrow round-trip of the
    ~1000-element shingle arrays outweighs the interpreted-lambda cost
    at this volume. (Alternating both variants inside ONE session had
    shown the opposite — shared-JIT warmup contaminates in-session
    A/Bs across plan shapes; measure variant performance in separate
    sessions.)"""
    # NB: guard short strings — Spark's sequence(1, 0) counts *down*
    shingles = F.expr(
        f"CASE WHEN size(_cs_) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(_cs_) - {n - 1}),"
        f" i -> array_join(slice(_cs_, i, {n}), ''))) ELSE array() END"
    )
    return (
        df.withColumn("_cs_", F.split(normalized_text(F.col(text_col)), ""))
        .withColumn("shingles", shingles)
        .drop("_cs_")
    )


def minhash_signature(df: DataFrame, id_col: str, n_hashes: int = 8) -> DataFrame:
    """MinHash as a NARROW projection: the shingle set is already an
    array per document, so min(md5(shingle||seed)) is
    array_min(transform(...)) — no explode, no aggregation, no exchange
    (the former explode → groupBy(min×8) pass sort-aggregated — min over
    variable-length strings has no mutable buffer, so it couldn't even
    hash-aggregate — and shuffled one row per (doc, shingle)).
    Documents with no shingles are filtered out, exactly as the explode
    formulation dropped them (no rows to group). md5 keeps the signature
    engine-portable (same values in the DuckDB oracle)."""
    def _mh(s: int):
        return F.array_min(
            F.transform("shingles", lambda g: F.md5(F.concat(g, F.lit(f"#{s}"))))
        ).alias(f"mh{s}")

    return df.filter(F.size("shingles") > 0).select(
        id_col, *[_mh(s) for s in range(n_hashes)]
    )


def lsh_candidates(
    sig: DataFrame,
    id_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
    observation=None,
) -> DataFrame:
    """Band the signature → per-(band_idx, band_val) bucket → candidate
    pairs (id_a < id_b) via ``similarity.bucket_pairs_nodup``: ONE
    banded table (the former self-join formulation re-evaluated the
    whole upstream signature in both join branches), and each pair
    leaves its first surviving band only, so no pair ``distinct``
    follows. The band values are ``struct<string, string>`` minhash
    slices; the first-band test compares them as they are.

    ``max_bucket`` is the skew/degeneracy guard: a bucket of k docs emits
    k·(k−1)/2 pairs, so one boilerplate-heavy bucket can dominate the
    whole job quadratically (on this synthetic corpus a single bucket
    holds most of the table → ~8M pairs at sf0.1). Buckets larger than
    the cap are dropped — near-identical boilerplate groups are
    exact-dedup's job, and this bound is what makes the band join safe
    at 10^12 docs. Drop accounting rides the same job via
    ``observation`` (no-silent-caps)."""
    from .similarity import bucket_pairs_nodup

    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(*[F.col(f"mh{b * band_size + k}").alias(f"k{k}") for k in range(band_size)])
            for b in range(n_bands)
        ]
    )
    banded = sig.select(F.col(id_col), F.posexplode(bands).alias("band_idx", "band_val"))
    return bucket_pairs_nodup(
        banded, "band_idx", "band_val", id_col, n_bands, max_bucket, observation
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard. Shingle sets
    are re-joined per side; intersection via array_intersect on the
    pair row (documents are bounded, arrays fit in memory)."""
    sh = df.select(F.col(id_col), F.col("shingles"))
    paired = candidates.join(
        sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("shingles", "sh_a"), "id_a"
    ).join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
    # size-ratio prefilter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so pairs
    # failing that bound can't pass the threshold — prunes before the
    # O(|A|+|B|) intersection (the dominant cost at scale)
    na, nb = F.size("sh_a"), F.size("sh_b")
    paired = paired.filter(
        F.least(na, nb) >= F.greatest(na, nb) * F.lit(threshold)
    )
    out = (
        paired.withColumn("n_int", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_int")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_int")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    observation=None,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bands →
    Jaccard-verified pairs.

    The shingle frame feeds both the signature pass and the verification
    pass; persisting it avoids recomputing 10^2-element arrays per doc
    twice (at warehouse scale this is a materialized intermediate table,
    here a MEMORY_AND_DISK persist for the job's lifetime)."""
    from pyspark import StorageLevel

    from ..session import spread_input

    # spread a single-split input first: shingling + the 8-hash
    # signature projection are narrow, and on a one-row-group fixture
    # they would otherwise run on one core end to end (measured 31 s vs
    # ~3 s at sf0.1); the exchange moves only the raw text, before any
    # array blow-up, and is a no-op on well-split tables
    # NB: persist the frame as-is — projecting down to (id, shingles)
    # before the persist was A/B-measured r6 and is consistently ~0.5 s
    # SLOWER in fresh sessions (3 session pairs, best-of-4 each: 1.87/
    # 2.36/1.93 narrow vs 1.36/1.64/1.41 wide); the in-memory relation
    # prunes columns on read anyway, so the projection buys nothing and
    # perturbs the cached-plan shape
    sh = with_shingles(spread_input(df), text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sig = minhash_signature(sh, id_col, n_hashes)
    cand = lsh_candidates(sig, id_col, n_hashes, band_size, max_bucket, observation)
    return ngram_jaccard_pairs(sh, cand, id_col, threshold)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash: per-token 32-bit hash votes → sign per bit → packed int.

    Tokenization and the per-token hash stay JVM-side; the bit-vote/pack
    step is a vectorized numpy pandas UDF: one (total_tokens, bits) bit
    matrix per Arrow batch reduced per document with add.reduceat. (The
    previous all-JVM nested-HOF vote built a fresh 32-element array per
    token per doc — measured ~2× slower and allocation-bound.)

    The 32-bit token hash derives from md5 — the same trick as
    ``minhash_signature`` — so any ANSI engine (the DuckDB oracle)
    reproduces the exact simhash values."""
    from ..session import spread_input

    df = spread_input(df)  # votes are per-doc integer sums: spreading a
    # single-split input parallelizes the (dominant) per-token md5 +
    # numpy vote stage without touching any result
    token_hashes = F.expr(
        f"transform(filter(split(lower(regexp_replace({text_col}, '\\\\s+', ' ')), ' '),"
        f" x -> x != ''), t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint))"
    )

    @F.pandas_udf(T.LongType())
    def pack_votes(hs: pd.Series) -> pd.Series:
        shifts = np.arange(bits, dtype=np.uint64)
        weights = (np.int64(1) << np.arange(bits, dtype=np.int64)).astype(np.int64)
        lens = np.array([0 if h is None else len(h) for h in hs], dtype=np.int64)
        total = int(lens.sum())
        if total == 0:
            return pd.Series(np.zeros(len(hs), dtype=np.int64))
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hs if h is not None and len(h)]
        ).astype(np.uint64)
        # (total_tokens, bits) sign votes, reduced per document
        votes_tok = (2 * ((flat[:, None] >> shifts) & 1).astype(np.int64)) - 1
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        # reduceat over non-empty docs only: an empty doc's start equals
        # its successor's (or total, past the end for a trailing empty
        # doc), and clamping it would truncate the PRECEDING doc's
        # segment — so reduce the valid segments and scatter back
        nz = lens > 0
        votes_doc = np.add.reduceat(votes_tok, starts[nz], axis=0)
        packed = np.zeros(len(hs), dtype=np.int64)
        packed[nz] = ((votes_doc > 0).astype(np.int64) * weights).sum(axis=1)
        return pd.Series(packed)

    return df.select(F.col(id_col), pack_votes(token_hashes).alias("simhash"))


def simhash_near_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    max_bucket: int | None = None,
    observation=None,
) -> DataFrame:
    """Candidate pairs whose simhash differs in ≤ max_hamming bits.
    Banding on 4 chunks of ``bits // 4`` bits (pigeonhole: ≤3 differing
    bits ⇒ at least one identical chunk) keeps the pairs bucketed at any
    ``bits``; ``max_bucket`` bounds degenerate chunks the same way as in
    lsh_candidates."""
    n_chunks = 4
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), c * chunk_bits).bitwiseAND(F.lit(mask))
            for c in range(n_chunks)
        ]
    )
    from .similarity import bucket_pairs_nodup

    banded = sh.select(id_col, "simhash", F.posexplode(chunks).alias("ci", "cv"))
    # bucket_pairs_nodup: ONE aggregation chain over ONE banded table —
    # the former self-join re-evaluated the simhash pandas UDF (and its
    # per-token md5 tokenization) in both join branches — AND each pair
    # is emitted once, from its first surviving chunk, so no cross-band
    # dedup exchange follows. The simhash value rides the bucket member
    # struct so the hamming verify needs no join back; hamming is a pure
    # JVM pair function applied inline in the same codegen stage.
    cand = bucket_pairs_nodup(
        banded, "ci", "cv", id_col, n_chunks, max_bucket, observation,
        payload_cols=["simhash"],
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 8,
    n_bits: int | None = 8,
    max_bucket: int | None = 1000,
    seed: int = 42,
    observation=None,
    portable: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup via multi-band hyperplane LSH: k
    independent band tables (seeded Gaussian planes, vectorized numpy
    projection), (band, code) buckets with a ``max_bucket`` degeneracy
    cap (``similarity.masked_buckets``), then one per-bucket Arrow
    kernel (``similarity.bucket_verify_dots``) that emits each pair from
    its first surviving band and keeps it when its exact cosine (numpy
    einsum over the vectors riding in the bucket members) is ≥
    threshold. Same bounded-bucket discipline as
    ``lsh_candidates``/``simhash_near_pairs`` — never all-pairs: a band
    bucket emits at most max_bucket·(max_bucket−1)/2 pairs. Per-band scan
    reduction is 2^n_bits; recall grows with n_bands (OR over
    independent tables). Vectors are unit-norm in the fixture; cosine =
    dot. One plan at every scale and code width: nothing is collected or
    broadcast, and id_a/id_b keep ``id_col``'s type.

    ``n_bits=None`` sizes the code width from the corpus count
    (``auto_n_bits``, one count job) so the cap trims skew rather than
    every typical bucket; ``observation`` surfaces rows/buckets dropped
    by the cap."""
    from .similarity import (
        auto_n_bits,
        band_codes_udf,
        bucket_verify_dots,
        masked_buckets,
    )

    if n_bits is None:
        n_bits = auto_n_bits(emb.count(), max_bucket or 1000)
    # ONE band-code UDF pass over the corpus; the vector rides the
    # bucket members, so the verify needs no join back and no index.
    # Pairs are never rows in the plan: generation AND the dot run per
    # bucket inside one mapInArrow, and only near-threshold pairs with
    # raw dots come back. The exact rounded filter stays JVM-side
    # (round-half-up in the JVM).
    codes = band_codes_udf(n_bands, n_bits, seed, portable)
    bb = emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(codes(F.col(vec_col))).alias("band", "code"),
    )
    masked = masked_buckets(
        bb, "band", "code", id_col, n_bands, max_bucket, observation, [vec_col]
    )
    dots = bucket_verify_dots(masked, "band", id_col, vec_col, threshold)
    return (
        dots.withColumn("cosine", F.round(F.col("dot"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
