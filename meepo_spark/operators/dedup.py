"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard (SURVEY.md §2.B L1/L2).

All stages are built-in DataFrame ops — shingle/minhash/band hashing
runs inside whole-stage codegen via F.hash (murmur3); no Python UDFs.
Scale shape: explode-shuffle is bounded by (docs × shingles); LSH
bucketing turns the quadratic all-pairs problem into per-bucket
self-joins; exact verification touches candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meepo_spark.catalog import spread
from meepo_spark.functions.text import ws_tokens


def raw_shingles_from_tokens(toks, k: int = 3):
    """Column: k-token shingle OCCURRENCES (with repeats) from a token
    array — the raw stream. Short docs truncate via slice (a 2-token
    doc yields its 2-token join), exactly the DuckDB oracles' 1-based
    inclusive slice-join. The ONE construction of shingle semantics:
    shingle_set wraps it with array_distinct; occurrence-grain
    consumers (l45's type-token ratio) use it directly."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))


def shingle_set(text_col, k: int = 3):
    """Column: distinct k-token shingles of a text column."""
    return F.array_distinct(raw_shingles_from_tokens(ws_tokens(text_col), k))


def shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Distinct k-token shingles per document, exploded: (id, shingle)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_set(F.col(text_col), k)).alias("shingle"),
    )


def shingle_hash_set(text_col, k: int = 3):
    """Column: distinct xxhash64 values of the k-token shingles.
    Jaccard over this set equals string-shingle Jaccard up to 64-bit
    collisions (P < 1e-9 at realistic doc sizes); comparing 8-byte
    longs makes the pairwise verify stage several× cheaper than
    string-set intersection."""
    return F.transform(shingle_set(text_col, k), lambda s: F.xxhash64(s))


def _materialize(df: DataFrame, name: str, col) -> DataFrame:
    """Pin ``col`` as a physically-evaluated column (explode of a
    1-element array = a Generate node Catalyst cannot collapse into the
    downstream projection). Without the barrier, an expression
    referenced inside a higher-order-function lambda gets inlined by
    CollapseProject and re-evaluated once per lambda invocation — e.g.
    shingle construction ×192 minhash seeds."""
    return df.select("*", F.explode(F.array(col)).alias(name))




def hashed_shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) with the shingle as its xxhash64 value — the
    string is hashed exactly once; every downstream permutation mixes
    the 8-byte long instead of re-scanning the string."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_hash_set(F.col(text_col), k)).alias("shingle"),
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = 128) -> DataFrame:
    """(id, h0..h{n-1}): per-doc min of murmur3(shingle, seed_i) for
    each of ``num_hashes`` seeded permutations. One hash-agg — the
    shuffle carries |docs| rows of n ints.

    ``shingle`` may be the string or its 64-bit hash
    (``hashed_shingles``); min-hash over a permutation of an injective
    image preserves the Jaccard estimator either way, and hashing a
    long per seed is ~an order of magnitude cheaper than re-hashing a
    ~20-byte string per seed (num_hashes × |shingles| evaluations is
    the pipeline's dominant term)."""
    aggs = [
        F.min(F.hash(F.col("shingle"), F.lit(i))).alias(f"h{i}") for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def band_keys(num_hashes: int, bands: int):
    """Array column of (band, bh) LSH bucket keys over the signature
    columns ``h0..h{num_hashes-1}`` (r = num_hashes/bands rows per
    band). THE band plan: shared by the batch pipeline
    (:func:`lsh_candidate_pairs`) and the streaming incremental-dedup
    probe so their collision sets cannot drift apart."""
    r = num_hashes // bands
    assert bands * r == num_hashes, "bands must divide num_hashes"
    return F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.hash(*[F.col(f"h{b * r + j}") for j in range(r)]).alias("bh"),
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    sig: DataFrame, num_hashes: int = 128, bands: int = 64
) -> DataFrame:
    """Band the signature (r = num_hashes/bands rows per band), bucket
    by (band_idx, band_hash), emit candidate pairs (id_a < id_b).

    Default plan b=48/r=2 ⇒ P(miss | J=0.6) = (1-0.36)^48 ≈ 5e-10:
    effectively total recall above the 0.6 threshold. r=2 admits more
    low-J false positives than r=3, but exact verification removes
    them, and on a corpus whose non-dup pairs sit at J ≤ 0.07 (the
    fixture's shape, and typical of web text after exact dedup) the
    candidate volume stays ~1e-3 of all pairs while the signature
    compute halves vs a 192-hash plan.
    """
    banded = sig.select("id", F.explode(band_keys(num_hashes, bands)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    # bucket-collect instead of a self-join: a self-join's two sides
    # would each re-execute the whole signature pipeline (Spark does
    # not reuse the exchange here), while the collect shuffles the
    # banded rows ONCE. A B-member bucket yields B(B-1)/2 pairs under
    # either formulation; bucket width is bounded in practice because
    # exact dedup runs before near-dedup.
    return (
        banded.groupBy("band", "bh")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(ordered_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct()
    )


def ordered_pairs(arr):
    """Column: all (a, b) pairs with a before b in the sorted array —
    the within-bucket pair expansion. ``arr`` must be an attribute
    (materialized by the upstream agg), not an inline expression."""
    sorted_arr = F.array_sort(arr)
    n = F.size(sorted_arr)
    return F.flatten(
        F.transform(
            sorted_arr,
            lambda x, i: F.transform(
                F.slice(sorted_arr, i + 2, n),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def exact_jaccard(
    pairs: DataFrame, docs: DataFrame, text_col: str, id_col: str, set_builder=None
) -> DataFrame:
    """Attach exact set-Jaccard to candidate pairs — the verification
    stage that makes LSH output exact above-threshold. ``set_builder``
    maps the text column to the comparison set (default: distinct
    whitespace tokens; pass ``shingle_set`` for n-gram Jaccard)."""
    sb = set_builder or (lambda c: F.array_distinct(ws_tokens(c)))
    toksets = spread(docs, id_col).select(
        F.col(id_col).alias("id"), sb(F.col(text_col)).alias("toks")
    )
    ta = toksets.withColumnRenamed("id", "id_a").withColumnRenamed("toks", "toks_a")
    tb = toksets.withColumnRenamed("id", "id_b").withColumnRenamed("toks", "toks_b")
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    # both sides are distinct sets, so |a ∪ b| = |a| + |b| − |a ∩ b|:
    # one set build per pair instead of two (array_union is the
    # costlier op — it materializes the combined set)
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", inter / union)
        .drop("toks_a", "toks_b")
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingle_k: int = 3,
    num_hashes: int = 96,
    bands: int = 48,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: pairs with exact
    token-set Jaccard >= threshold (LSH recall ≈ 1 above 0.6 with the
    default band plan)."""
    sh = hashed_shingles(spread(docs, id_col), text_col, id_col, shingle_k)
    sig = minhash_signatures(sh, num_hashes)
    cand = lsh_candidate_pairs(sig, num_hashes, bands)
    # verify on the SAME set family the signatures approximate
    # (hashed form: identical Jaccard up to 64-bit collisions)
    return exact_jaccard(
        cand, docs, text_col, id_col,
        set_builder=lambda c: shingle_hash_set(c, shingle_k),
    ).filter(F.col("jaccard") >= threshold)


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64, hasher=None
) -> DataFrame:
    """Per-doc SimHash: for each bit, count ones across shingle
    hashes; the signature bit is set when ones outnumber zeros.
    Exploded + hash-agg form on purpose: higher-order functions are
    interpreted, while this agg runs in whole-stage codegen — at
    sf0.1 the codegen'd agg beats the array fold ~1.5×, and map-side
    partial aggregation keeps the shuffle at |docs| rows × ``bits``
    small sums. Uses 3-token shingles (not unigrams): with a small
    vocabulary unigram sets barely differ across docs, collapsing all
    signatures together.

    ``hasher`` (shingle-string Column → long Column) overrides the
    default xxhash64 — e.g. an md5-derived hash an external oracle
    can recompute; pass ``bits`` to match the hash's usable width."""
    hs = (
        shingle_hash_set(F.col(text_col), 3)
        if hasher is None
        else F.transform(shingle_set(F.col(text_col), 3), hasher)
    )
    toks = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(hs).alias("h"),
    )
    ones = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(bits)
    ]
    summed = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *ones)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        # ones > n/2 ⇔ the ±1 sum is positive; shiftleft stays in JVM
        # long arithmetic (bit 63 would overflow a Python int literal)
        sim = sim.bitwiseOR(
            F.when(
                F.col(f"b{i}") * 2 > F.col("n"),
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
        )
    return summed.select("id", sim.alias("simhash"))
