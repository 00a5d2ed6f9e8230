"""Deduplication operators for training-data pipelines.

Extension surface (BASELINE.json north star — not in the reference, which
has no distinct/dedup at all). Four strategies, cheapest first:

1. ``dedup_exact``        — hash groupBy on the key columns; deterministic
                            representative (min id), one shuffle.
2. ``dedup_fingerprint``  — md5 of normalized text; catches
                            whitespace/case-variant dups, same cost.
3. ``minhash_signatures`` + ``neardup_pairs_minhash`` — MinHash + LSH
                            banding for near-duplicates: shingle → k md5
                            min-hashes → band buckets → bucket equi-join.
                            Shuffle is on band keys, so cost scales with
                            candidate density, not n².
4. ``ngram_jaccard_pairs`` — exact n-gram Jaccard verification over a
                            candidate pair set (use after LSH to confirm).

Determinism: min-hash uses md5 over salted shingles — stable across
engines/runs (needed for the DuckDB oracle and for re-runs at scale;
Spark's built-in ``hash`` is murmur3 and fine too, but md5 is portable).

Scale notes:
- the explode(shingles) stage is the big one: rows × (len-k+1) shingles.
  Aggregating min() per (doc, hash-index) is map-side combinable, so the
  shuffle carries only n_docs × n_hashes rows.
- band-bucket join skew: a degenerate bucket (empty/boilerplate docs all
  hashing identically) makes the self-join quadratic.
  ``neardup_pairs_minhash`` therefore drops buckets larger than
  ``max_bucket`` (default 64) BEFORE the join — a band shared by hundreds
  of documents is boilerplate, not near-dup signal, and exact/fingerprint
  dedup already handles identical docs. AQE skew-join handles residual
  imbalance below the cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bun_csv_spark.functions.text import char_shingles, fingerprint, word_ngrams


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one row per distinct key: the one with the smallest id.

    Deterministic alternative to dropDuplicates() (which keeps an arbitrary
    row). Returns (id, *key_cols)."""
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col)).select(
        id_col, *key_cols
    )


def dedup_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup on normalized-text md5. Returns
    (fingerprint, keep_id, n_dups)."""
    fp = df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    return fp.groupBy("fp").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


# Prime modulus for the minhash family: each shingle gets ONE md5, reduced
# to h ∈ [0, P); hash i is the affine map (aᵢ·h + bᵢ) mod P. The multipliers
# must be LARGE (≈P) so the maps wrap many times and decorrelate — small
# multipliers barely wrap, every map keeps h's ordering, and all n hashes
# collapse onto the same argmin shingle. (P-1)² < 2^63, so aᵢ·h stays in
# signed-int64 range in every engine.
MINHASH_P = 2147483647


def minhash_params(n_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (aᵢ, bᵢ) affine-map constants, shared with oracle SQL."""
    a = [(2654435761 * (i + 1)) % MINHASH_P or 1 for i in range(n_hashes)]
    b = [(1779033703 * (i + 13) + 7) % MINHASH_P for i in range(n_hashes)]
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    shingle_k: int = 5,
    repartition: int | None = None,
) -> DataFrame:
    """Per-doc MinHash signature — one md5 per shingle, all n mins in a
    single array fold.

    Design for scale: NO explode, NO shuffle — each doc's signature is
    produced where the doc lives (pure map), so the operator scales
    linearly at 100 TB. One md5 per shingle (not per shingle×hash): the
    base hash h = md5(shingle)[:15 hex] mod P, and hash i is the affine
    family (2i+3)·h + (7i+1) mod P (P = 2^31-1), folded in one pass via
    aggregate+zip_with. md5 keeps the signature portable across engines.

    ``repartition`` spreads CPU-heavy per-row work when the source has too
    few partitions (one small parquet file -> 1 partition -> 1 core).
    Output: (id, minhash_0..minhash_{n-1}) as longs."""
    if repartition:
        # hash on the near-unique id, not round-robin: a keyed repartition
        # skips the keyless form's local sort of every row
        # (sortBeforeRepartition, SPARK-23207) — r18 A/B at sf0.1: 0.53 s
        # keyed vs 0.55 s round-robin vs 3.78 s unpartitioned (the
        # shingle+fold work is CPU-bound, so parallelism is essential on a
        # single-row-group source).
        df = df.repartition(repartition, F.col(id_col))
    shingles = F.array_distinct(char_shingles(text_col, shingle_k))
    base = F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % MINHASH_P,
    )
    a_consts, b_consts = minhash_params(n_hashes)
    init = F.array_repeat(F.lit(MINHASH_P).cast("long"), n_hashes)
    a_arr = F.array(*[F.lit(a).cast("long") for a in a_consts])
    b_arr = F.array(*[F.lit(b).cast("long") for b in b_consts])
    idx = F.sequence(F.lit(0), F.lit(n_hashes - 1))
    fold = F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda cur, i: F.least(
                cur,
                (F.element_at(a_arr, i + 1) * h + F.element_at(b_arr, i + 1))
                % MINHASH_P,
            ),
        ),
    )
    sig = df.select(F.col(id_col), fold.alias("__sig"))
    return sig.select(
        id_col,
        *[F.element_at("__sig", i + 1).alias(f"minhash_{i}") for i in range(n_hashes)],
    )


def _cap_buckets(df: DataFrame, max_bucket: "int | None") -> DataFrame:
    """Drop every row of any (band, bucket) holding more than
    ``max_bucket`` members — the degenerate-bucket guard shared by every
    banded pairing path (minhash, simhash/hamming, embedding LSH, the
    incremental fold). The size count is a window over the SAME
    (band, bucket) key the candidate joins use, so the cap adds no
    extra exchange. ``None`` disables."""
    if max_bucket is None:
        return df
    from pyspark.sql import Window

    wb = Window.partitionBy("band", "bucket")
    return (
        df.withColumn("__bsz", F.count(F.lit(1)).over(wb))
        .filter(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )


def _band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    bands: int,
    shingle_k: int,
    repartition: int | None,
    max_bucket: int | None,
    bucket_encoding: str = "md5",
) -> DataFrame:
    """(id, band, bucket) LSH banding table with the degenerate-bucket cap
    applied — the shared head of both neardup candidate strategies.

    ``max_bucket``: any (band, bucket) holding more than this many docs is
    dropped before any join (one bucket of B docs contributes B²/2
    candidate pairs — a single 10k-identical-docs bucket would add 5·10⁷
    pairs and stall the stage). The size count is a window over the SAME
    (band, bucket) key later joins use, so the cap adds no extra
    exchange. ``None`` disables.

    ``bucket_encoding``: the bucket key is an identity stand-in for the
    band's minhash VECTOR — two docs share a bucket iff their band
    columns are equal — so any injective-in-practice digest works.
    "md5" (default) keeps the 32-char hex form every DuckDB gate oracle
    reproduces; "xxhash64" stores an 8-byte long instead (~3x fewer
    scan bytes per store row), the hot-path layout for year-deep
    incremental stores where the fold is store-scan-dominated
    (SCALE.md r16 A/B: same pairs, smaller store). Collision risk is
    2^-64 per colliding PAIR within one band — and a collision only
    ADDS a candidate pair (verified downstream by Jaccard); the one
    exception is with ``max_bucket`` set, where a collision that merges
    two buckets can push the merged bucket over the cap and drop ALL
    its rows, removing pairs the md5 encoding would emit — same 2^-64
    order, negligible, but the invariant is "adds except across the cap
    boundary", not "never drops"."""
    if bucket_encoding not in ("md5", "xxhash64"):
        raise ValueError(f"unknown bucket_encoding {bucket_encoding!r}")
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k, repartition)
    band_cols = []
    for b in range(bands):
        cols = [f"minhash_{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        if bucket_encoding == "xxhash64":
            bucket = F.xxhash64(*[F.col(c) for c in cols])
        else:
            bucket = F.md5(F.concat_ws("|", *cols))
        band_cols.append(
            F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
        )
    buckets = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))

    return _cap_buckets(buckets, max_bucket)


def _spread_for_cpu(df: DataFrame, *key_cols: str) -> DataFrame:
    """Pin the parallelism of a CPU-heavy verify stage (r18).

    AQE sizes post-shuffle stages by BYTES, and a candidate-pair stream
    is tiny in bytes but carries heavy per-row compute in the stage that
    follows (Levenshtein DP, n-gram set intersection, cosine folds) — at
    sf0.1 AQE coalesced the editdist gate's 156k pairs (1.6e10 DP cells)
    into ONE partition and the whole verify ran on a single core
    (measured 297 s; coalescing disabled: 19.6 s). An explicit
    numPartitions repartition is exempt from AQE coalescing; hashing the
    near-unique pair key spreads evenly, and the shuffled bytes are
    negligible against the per-row verify cost at any scale. 4x
    parallelism smooths stragglers.

    Call it on the PAIR ID STREAM, before the payload joins: the
    broadcast joins and the verify projection then inherit the pinned
    partitioning, the exchange moves ids only — and predicates the
    optimizer pushes into the join (a threshold filter becomes a
    non-equi join condition) still evaluate in the spread stage. A
    post-join repartition is defeated by exactly that pushdown
    (measured: the embedding cosine threshold landed BELOW the exchange
    as a single-partition join condition)."""
    par = 4 * df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, *[F.col(c) for c in key_cols])


def _bucket_pairs(a: DataFrame, b: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, sharing any (band, bucket)."""
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def neardup_pairs_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 5,
    repartition: int | None = None,
    max_bucket: int | None = 64,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ANY band of n_hashes/bands
    min-hashes. Returns (id_a, id_b) with id_a < id_b, distinct.

    r19 shape (guide §2.4 "remove shuffles outright" / §2.3): with the
    cap in play, pairs are emitted by ONE pass over the banding table —
    groupBy (band, bucket) collects each bucket's <=``max_bucket`` ids
    (bounded state: the cap window drops degenerate buckets FIRST, and it
    shares the same (band, bucket) exchange, so the groupBy adds none)
    and a per-bucket combination explode replaces the bucket SELF-JOIN.
    The old join evaluated the whole shingle+minhash banding subtree
    TWICE (once per side) and broadcast one side — a broadcast of an
    O(corpus x bands) table that cannot fit at 100 TB (AQE would fall
    back to shuffling both sides). Local A/B at sf0.1: flat (1.23 vs
    1.14 s best-of-3); pair set verified identical (156 541 pairs).
    ``max_bucket=None`` keeps the join shape — without the cap the
    per-bucket collect would buffer unbounded degenerate buckets, which
    the streaming window count never does."""
    buckets = _band_buckets(
        df, id_col, text_col, n_hashes, bands, shingle_k, repartition, max_bucket
    )
    if max_bucket is None:
        return _bucket_pairs(buckets, buckets, id_col)
    return _collected_bucket_pairs(buckets, id_col)


def _collected_bucket_pairs(buckets: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, from a CAPPED banding table by
    per-bucket combination explode — one aggregation over the same
    (band, bucket) partitioning the cap window established, no self-join,
    no second evaluation of the banding subtree. Only safe after a
    ``max_bucket`` cap: collect_list state is <= cap ids per bucket."""
    ids = F.array_sort(F.collect_list(id_col))
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(ids.alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("__ids") - 2),
            lambda i: F.transform(
                F.slice(F.col("__ids"), i + 2, F.size("__ids")),
                lambda b: F.struct(
                    F.element_at(F.col("__ids"), i + 1).alias("id_a"),
                    b.alias("id_b"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(combos).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def neardup_pairs_minhash_bucketed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 5,
    repartition: int | None = None,
    max_bucket: int | None = 64,
    n_buckets: int = 32,
) -> DataFrame:
    """100 TB near-dup path (SCALE.md): materialize the banding table ONCE
    as a parquet table bucketed+sorted by (band, bucket), then run the
    candidate self-join against the bucketed layout — the join reads
    co-located buckets and plans WITHOUT a shuffle Exchange (asserted in
    tests/test_bucketing_stateful.py).

    Why it matters at scale: the in-flight variant shuffles the banding
    rows (n_docs × bands) on every run; a recurring dedup job over a
    slowly-growing corpus pays that shuffle every time. Writing the
    intermediate bucketed amortizes it to one write, and every rerun —
    or any downstream join on (band, bucket) — is exchange-free."""
    from bun_csv_spark.operators.bucketing import write_bucketed

    buckets = _band_buckets(
        df, id_col, text_col, n_hashes, bands, shingle_k, repartition, max_bucket
    )
    write_bucketed(
        buckets, table, ["band", "bucket"], n_buckets, sort_cols=["band", "bucket"]
    )
    persisted = df.sparkSession.table(table)
    return _bucket_pairs(persisted, persisted, id_col)


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact word-n-gram Jaccard for candidate (id_a, id_b) pairs.

    Join the doc n-gram sets onto both sides of the pair list, compute
    |A∩B| / |A∪B| with array built-ins. Returns (id_a, id_b, jaccard)."""
    grams = _doc_grams(df, id_col, text_col, n)
    ga = grams.withColumnRenamed(id_col, "id_a").withColumnRenamed("grams", "grams_a")
    gb = grams.withColumnRenamed(id_col, "id_b").withColumnRenamed("grams", "grams_b")
    # r18: pin the set-intersection stage's parallelism (_spread_for_cpu;
    # the caller's threshold filter pushes into the join and runs spread)
    joined = _spread_for_cpu(pairs, "id_a", "id_b").join(ga, "id_a").join(
        gb, "id_b"
    )
    # r19: the union feeds BOTH the CASE condition and its value branch —
    # inlined, codegen re-evaluates it per reference (conditional branches
    # are exempt from subexpression elimination; the r18 editdist lesson).
    # A named non-cheap column referenced twice survives CollapseProject,
    # so the O(|A|+|B|) set op runs once per pair.
    sized = joined.withColumn(
        "__u", F.size(F.array_union("grams_a", "grams_b"))
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    jac = F.when(
        F.col("__u") > 0, inter.cast("double") / F.col("__u")
    ).otherwise(F.lit(0.0))
    out = sized.select("id_a", "id_b", jac.alias("jaccard"))
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def _doc_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, grams) side table for the pair-verify joins — the token array
    is projected as a NAMED column before the gram transform (r19): an
    inline tokens() expression inside the slice lambda is re-evaluated
    once per GRAM (higher-order functions run interpreted and lambdas
    re-evaluate outer subtrees per element), making the build O(tokens²)
    per doc. The two-step projection survives CollapseProject because the
    token expression is non-cheap and referenced more than once."""
    from bun_csv_spark.functions.text import tokens, word_ngrams_of

    return df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).select(
        F.col(id_col),
        F.array_distinct(word_ngrams_of(F.col("__toks"), n)).alias("grams"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """ASYMMETRIC overlap for candidate pairs: containment(A in B) =
    |A∩B| / |A|. The near-dup metric for sub-document duplication —
    a short doc wholly pasted into a long one scores ~1.0 here while its
    symmetric Jaccard stays low (|union| is dominated by B).

    Same join shape as ngram_jaccard_pairs (candidates come pre-bounded
    from LSH banding — never all pairs). Returns both directions:
    (id_a, id_b, containment_a_in_b, containment_b_in_a)."""
    grams = _doc_grams(df, id_col, text_col, n)
    ga = grams.withColumnRenamed(id_col, "id_a").withColumnRenamed("grams", "grams_a")
    gb = grams.withColumnRenamed(id_col, "id_b").withColumnRenamed("grams", "grams_b")
    # r18: pin the set-intersection stage's parallelism (_spread_for_cpu)
    joined = _spread_for_cpu(pairs, "id_a", "id_b").join(ga, "id_a").join(
        gb, "id_b"
    )
    # r19: ONE intersection per pair — inlined, the intersect sat inside
    # BOTH direction's CASE branches and evaluated twice per row (plan
    # read: plans/r19/ngram_containment_before.txt node 59). The named
    # non-cheap column referenced twice survives CollapseProject.
    sized = joined.withColumn(
        "__i", F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    )
    sa = F.size("grams_a")
    sb = F.size("grams_b")
    c_ab = F.when(sa > 0, F.col("__i") / sa).otherwise(F.lit(0.0))
    c_ba = F.when(sb > 0, F.col("__i") / sb).otherwise(F.lit(0.0))
    return sized.select(
        "id_a",
        "id_b",
        F.round(c_ab, 6).alias("containment_a_in_b"),
        F.round(c_ba, 6).alias("containment_b_in_a"),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 4,
    max_hamming: int = 6,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Hamming-banded SimHash near-dup pairs.

    Pigeonhole banding: a 64-bit SimHash splits into four 16-bit bands —
    two fingerprints within Hamming distance 6 of each other MUST agree
    exactly on at least one band when the flipped bits are spread over at
    most 3 bands... and may still be missed when the flips hit all four;
    standard SimHash-dedup accepts that recall bound (Manku et al., WWW
    2007 use the same block-split idea). Candidates = docs sharing any
    band; verification = exact popcount of the XOR. Bands are extracted
    from the zero-padded HEX of the fingerprint (4 chars = 16 bits) —
    shift semantics on negative longs differ between engines, substring
    does not.

    Per-band buckets above ``max_bucket`` docs are dropped before the
    self-join (same cap rationale as LSH banding — one degenerate bucket
    of B identical-ish docs is B²/2 pairs). One banding shuffle, one
    keyed self-join, never n². Returns (id_a, id_b, hamming)."""
    sim = df.select(
        F.col(id_col), simhash64(F.col(text_col), shingle_k).alias("__sim")
    )
    return hamming_pairs64(sim, id_col, "__sim", max_hamming, max_bucket)


def hamming_pairs64(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 6,
    max_bucket: int | None = 64,
    n_bands: int = 4,
) -> DataFrame:
    """Banded Hamming-distance pairs over ANY 64-bit fingerprint column
    (SimHash, image dHash, audio chromaprint-style hashes, ...):
    ``n_bands`` equal hex slices of the zero-padded hex (substring, not
    shifts — negative-long shift semantics differ between engines),
    candidates = ids sharing any band, verification = exact popcount of
    the XOR.

    Recall contract: the pigeonhole principle GUARANTEES a shared band
    only for Hamming distance <= n_bands - 1 (default 4 bands: <= 3).
    Pairs above that are found iff their flips concentrate in fewer
    bands — a pair whose flips touch every band is deterministically
    missed (probabilistic recall, like any banded LSH). Callers needing
    guaranteed recall at distance d pass ``n_bands > d`` (2/4/8/16 —
    must divide the 16 hex chars): more bands = full recall at higher d,
    but coarser buckets = more candidates to verify, so pair the bump
    with a realistic ``max_bucket``. Oracle gates stay exact because the
    oracle replays the same banding. Per-(band, bucket) groups above
    ``max_bucket`` are dropped before the self-join — one degenerate
    bucket of B near-equal fingerprints is B²/2 pairs. One banding
    shuffle, one keyed self-join, never n². Returns (id_a, id_b,
    hamming)."""
    if 16 % n_bands != 0:
        raise ValueError(f"n_bands must divide 16 hex chars, got {n_bands}")
    width = 16 // n_bands
    hexs = F.lower(F.lpad(F.hex(hash_col), 16, "0"))
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring(hexs, 1 + width * b, width).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    banded = df.select(
        id_col, hash_col, F.explode(band_arr).alias("bk")
    ).select(
        id_col,
        hash_col,
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
    )
    banded = _cap_buckets(banded, max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{hash_col}").alias("__sa"),
            F.col(f"b.{hash_col}").alias("__sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        pairs.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Dedup clusters: connected components of the near-dup pair graph by
    min-label propagation. Returns (node, label) with label = the smallest
    id in the component — the canonical representative each duplicate
    collapses to.

    Iterative Spark-first design: each round joins the symmetric edge list
    against current labels, takes the min neighbor label, and
    localCheckpoints to truncate lineage (without it the plan doubles per
    round). Converges in graph-diameter rounds; near-dup graphs are
    star-like so diameter is small. One shuffle per round, all built-ins.

    r18 (guide §2.4 "remove shuffles outright"; §1.2 per-round job
    count): convergence is detected INSIDE the propagation round itself —
    the previous label rides through as ``__old`` and an ``observe()``
    metric (sum of changed rows) is collected by the very job that
    materializes the round's localCheckpoint, so a round is exactly ONE
    job. The r17 shape re-joined new labels against old labels every
    round (a full extra join+shuffle whose only output was one count);
    an intermediate r18 shape counted the checkpointed bytes (no join,
    but still a second job per round). The symmetric edge list is also
    hash-partitioned by the probe key ``b`` once, before the loop's
    checkpoint, so every round's edge side enters its join
    pre-partitioned (localCheckpoint preserves the partitioning; only
    the shrinking labels side still moves). Measured at sf0.1 (156k LSH
    pairs, 8.5k nodes, 9 rounds), warm standalone: 7.5 s (r17 join
    count) -> 5.0 s (checkpoint count) -> 4.4 s (observe fusion),
    identical labels at every step. A pointer-jumping (path-halving)
    variant was A/B'd too — it cut rounds 9 -> 6 but its per-round
    extra checkpoint + self-join cost more than the saved rounds on
    this low-diameter graph family (5.9 s); rejected with the
    measurement recorded here.
    """
    from pyspark.sql import Observation

    if max_iter < 1:
        raise ValueError(
            f"connected_components: max_iter must be >= 1, got {max_iter}"
        )
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    sym = edges.unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.distinct().repartition("b").localCheckpoint()
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint()

    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nbr_min"))
        )
        obs = Observation()
        new_labels = (
            labels.select("node", F.col("label").alias("__old"))
            .join(nbr_min, "node", "left")
            .select(
                "node",
                "__old",
                F.least(F.col("__old"), F.coalesce("nbr_min", F.col("__old"))).alias(
                    "label"
                ),
            )
            .observe(
                obs,
                F.sum((F.col("label") != F.col("__old")).cast("long")).alias(
                    "changed"
                ),
            )
            .localCheckpoint()  # eager: runs the round's one job, which
            # also delivers the observation — obs.get cannot block
        )
        # sum over zero rows is NULL: an empty graph is converged
        changed = obs.get["changed"] or 0
        labels = new_labels.drop("__old")
        if changed == 0:
            break
    else:
        # the fused check makes non-convergence detection free: falling
        # through max_iter rounds with changed != 0 means the graph's
        # diameter exceeds max_iter and the labels are NOT canonical
        # component representatives — surface it instead of returning
        # partial labels silently
        import warnings

        warnings.warn(
            f"connected_components hit max_iter={max_iter} before the "
            f"fixpoint ({changed} labels still changing last round) — "
            "labels are partial; raise max_iter for high-diameter graphs",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def embedding_planes(
    seed: int, bands: int, n_planes: int, dim: int
) -> list[list[list[int]]]:
    """Deterministic integer hyperplane components for embedding LSH,
    derived driver-side from md5 so the SAME constants can be emitted
    into oracle SQL: p[band][plane][j] ∈ [-1000, 1000]. Precomputing them
    as literals keeps the per-row work to plain multiply-adds (no in-plan
    hashing) and makes the bucketing bit-for-bit portable across engines."""
    import hashlib

    return [
        [
            [
                int(
                    hashlib.md5(f"{seed}-{b}-{i}-{j}".encode()).hexdigest()[:15], 16
                )
                % 2001
                - 1000
                for j in range(dim)
            ]
            for i in range(n_planes)
        ]
        for b in range(bands)
    ]


def neardup_pairs_embedding(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    bands: int = 4,
    n_planes: int = 6,
    seed: int = 7,
    max_bucket: int | None = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-banded for scale.

    Same shape as the MinHash pipeline: each vector lands in ``bands``
    sign-LSH buckets (one per independent plane set); candidates are pairs
    sharing ANY bucket (bucketed equi-join, NOT all-pairs); the exact
    cosine then verifies candidates against ``threshold``. Degenerate
    buckets above ``max_bucket`` are dropped before the join, like
    ``neardup_pairs_minhash``.

    The projection sign is taken on ``round(proj, 6)`` so float
    accumulation-order ULPs can't flip a bucket bit between engines.
    Returns (id_a, id_b, cosine) with id_a < id_b, cosine rounded to 6.
    Recall < 1 by design (tune bands/n_planes); at 100 TB the candidate
    join shuffles on (band, bucket) only."""
    from bun_csv_spark.functions.vectors import cosine_similarity, dlit

    planes = embedding_planes(seed, bands, n_planes, dim)
    v = F.col(vec_col)
    band_cols = []
    for b in range(bands):
        bucket = F.lit(0)
        for i in range(n_planes):
            # one py4j call per plane, not per component (see vectors.dlit)
            arr = dlit(list(planes[b][i]))
            proj = F.aggregate(
                F.zip_with(v, arr, lambda x, p: x.cast("double") * p),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bit = F.when(F.round(proj, 6) >= 0, F.lit(1)).otherwise(F.lit(0))
            bucket = bucket + F.shiftleft(bit, i)
        band_cols.append(
            F.struct(F.lit(b).alias("band"), bucket.cast("long").alias("bucket"))
        )
    buckets = df.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))

    buckets = _cap_buckets(buckets, max_bucket)

    a, b_ = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    cos = F.round(cosine_similarity(F.col("__va"), F.col("__vb")), 6)
    # r18: pin the cosine-verify stage's parallelism (_spread_for_cpu;
    # 5.1 -> 1.6 s at sf0.1) and evaluate the cosine ONCE via a named
    # column — inlined, the threshold filter pushes a second full
    # evaluation into the join condition
    joined = _spread_for_cpu(pairs, "id_a", "id_b").join(va, "id_a").join(
        vb, "id_b"
    )
    return (
        joined.withColumn("__c", cos)
        .filter(F.col("__c") >= threshold)
        .select("id_a", "id_b", F.col("__c").alias("cosine"))
    )


def simhash64(col, shingle_k: int = 4):
    """64-bit SimHash expression over character shingles.

    Each shingle hashes to 64 bits taken from md5 — the top 8 hex chars
    give bits 0-31 (h1), the next 8 give bits 32-63 (h2). md5 (not
    xxhash64) keeps the fingerprint bit-for-bit portable across engines so
    the DuckDB oracle can replay it. Bit b votes +1/-1; the sign vector
    packs back into a BIGINT. Built as a fold over the shingle array; no
    explode, no UDF, so it runs per-row in codegen. The md5 is computed
    once per shingle (separate transform stage) — Catalyst does not CSE
    inside lambda bodies.

    Bit masks are a literal struct array (the packed bit 63 wraps to the
    sign bit as a negative long) because Spark's shift functions only take
    Python-int shift amounts, not Columns."""
    sh = char_shingles(col, shingle_k)
    md5s = F.transform(sh, lambda s: F.md5(s))
    halves = F.transform(
        md5s,
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
        ),
    )
    # per-bit vote masks: bit b tests (b < 32 ? h1 : h2) & (1 << (b % 32))
    mask_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.lit(1 << (b % 32)).cast("long").alias("m"),
            )
            for b in range(64)
        ]
    )
    votes = F.aggregate(
        halves,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            mask_structs,
            lambda a, ms: a
            + F.when(
                F.when(ms["b"] < 32, h["h1"])
                .otherwise(h["h2"])
                .bitwiseAND(ms["m"])
                != 0,
                1,
            ).otherwise(-1),
        ),
    )
    out_masks = F.array(
        *[
            F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
            for b in range(64)
        ]
    )
    signed = F.zip_with(
        votes, out_masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(signed, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))


def shared_substring_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 50,
    stride: int = 10,
    max_per_hash: int | None = 64,
) -> DataFrame:
    """Exact shared-substring detection — the scalable approximation of
    suffix-array dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): two docs sharing a verbatim ``window``-char
    span are caught by hashing anchor windows and equi-joining the hashes.

    Anchors are CONTENT-DEFINED, not fixed-stride: position p is an anchor
    iff an 8-char prefix hash gates to 0 mod ``stride`` (Rabin-style
    chunking). Fixed offsets (p = 1, 1+s, ...) would silently miss a copy
    whose absolute position shifts by a non-multiple of the stride;
    content-defined gating picks the SAME offsets inside identical spans
    wherever they sit, so a shared span of length L >= window is caught
    with probability ~1-(1-1/s)^(L-window+1) (≈98% at L = window + 3s) and
    expected anchor density stays 1/stride. Deterministic md5 gating keeps
    it engine-portable for the oracle.

    Plan: per-doc gated positions + window hashes built as one
    filter/transform/explode (docs shorter than ``window`` contribute
    nothing — explode of the gated NULL drops them); one shuffle on the
    md5 anchor key; ``max_per_hash`` drops ubiquitous windows (licence
    boilerplate) before the self-join — the same degenerate-bucket cap as
    the LSH pipeline, over the SAME join key so it adds no exchange.
    Returns (id_a, id_b, n_shared) with id_a < id_b, n_shared = number of
    matching anchor-window pairs."""
    c = F.col(text_col)
    n = F.length(c)
    gate = lambda p: (  # noqa: E731 — gate hash on the window's 8-char prefix
        F.conv(F.substring(F.md5(F.substring(c, p, 8)), 1, 8), 16, 10).cast("long")
        % stride
        == 0
    )
    positions = F.filter(F.sequence(F.lit(1), n - window + 1), gate)
    anchors = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                n >= window,
                F.transform(
                    positions,
                    lambda p: F.struct(
                        p.cast("long").alias("pos"),
                        F.md5(F.substring(c, p, window)).alias("h"),
                    ),
                ),
            )
        ).alias("a"),
    ).select(id_col, F.col("a.pos").alias("pos"), F.col("a.h").alias("h"))

    if max_per_hash is not None:
        from pyspark.sql import Window

        wh = Window.partitionBy("h")
        anchors = (
            anchors.withColumn("__hc", F.count(F.lit(1)).over(wh))
            .filter(F.col("__hc") <= max_per_hash)
            .drop("__hc")
        )

    a, b = anchors.alias("a"), anchors.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def editdist_verify(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact edit-distance verification of candidate pairs — the last
    stage of a near-dup pipeline: banding proposes, Levenshtein disposes.

    Exact distance on LSH-pruned candidates only, never all-pairs — the
    cost profile that keeps exact verification affordable at corpus
    scale. r19: the kernel is the batched bit-parallel Myers DP
    (functions/editdist.py) behind an Arrow-batched pandas UDF — the
    built-in ``F.levenshtein`` walks the full O(m·n) DP matrix per pair
    (~1.4e10 cells at the gate's sf0.1 workload, 6.7 s on 32 cores)
    where Myers does O(n·⌈m/64⌉) word-ops vectorized across the batch;
    same exact distances (law-tested against F.levenshtein incl.
    unicode/boundary cases, and the DuckDB oracle re-verified at
    sf0.01+sf0.1). Returns (id_a, id_b, lev, sim) where
    sim = 1 - lev/max(len_a, len_b), rounded 6dp for engine-portable
    comparison."""
    from bun_csv_spark.functions.editdist import levenshtein_udf

    a = corpus.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta")
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb")
    )
    # r18: pin the DP stage's parallelism (see _spread_for_cpu — the
    # editdist gate measured 297 s with AQE's bytes-based coalescing
    # collapsing the pair stream to one partition; 8.8 s fixed)
    joined = _spread_for_cpu(pairs, "id_a", "id_b").join(a, "id_a").join(
        b, "id_b"
    )
    longest = F.greatest(F.length("__ta"), F.length("__tb"))
    # named column (r18): the CASE branch below references it without
    # re-evaluating; the UDF lands in one ArrowEvalPython node
    out = joined.withColumn("__lev", levenshtein_udf()("__ta", "__tb"))
    sim = F.when(
        longest > 0, 1.0 - F.col("__lev") / longest
    ).otherwise(F.lit(1.0))
    return out.select(
        "id_a",
        "id_b",
        F.col("__lev").cast("long").alias("lev"),
        F.round(sim, 6).alias("sim"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Within-corpus duplicated-SPAN detection: the maximal token ranges
    of each document whose every length-``n`` token window also appears
    in at least ``min_docs`` documents — the span-level removal target of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (reference's dedup is whole-row; training corpora need the
    repeated boilerplate *inside* otherwise-unique docs found too).
    Complements ``shared_substring_pairs`` (which pairs documents): this
    one says WHERE the duplication sits so it can be cut.

    Plan: tokenize once, build every n-gram with its token position as a
    single transform+posexplode (no per-gram re-scan of the text); hash
    grams with md5 (engine-portable); one aggregate over the gram hash
    counts distinct docs (map-side combine collapses within-doc repeats);
    equi-join qualifying hashes back to positions; then merge
    overlapping/adjacent [pos, pos+n-1] windows into maximal spans with
    the classic running-max-end interval merge — one keyed window per
    doc, bounded frames. Every shuffle key is the gram hash or the doc
    id; nothing is all-pairs, nothing collects.

    Returns (id, span_start, span_end, n_windows) with token-index
    (1-based, inclusive) span bounds."""
    from pyspark.sql import Window

    # r19: the token array is a NAMED column — inlined, the split sat
    # inside the slice lambda and re-tokenized the doc once per GRAM
    # (O(tokens²) per row; same lesson as _doc_grams)
    toks = F.col("__toks")
    grams = df.select(
        F.col(id_col), F.split(F.col(text_col), r"\s+").alias("__toks")
    ).select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - n + 1),
                    lambda p: F.md5(
                        F.array_join(F.slice(toks, p, n), " ")
                    ),
                ),
            )
        ).alias("__p0", "h"),
    ).select(id_col, (F.col("__p0") + 1).cast("long").alias("pos"), "h")

    hot = (
        grams.groupBy("h")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("h")
    )
    dup = grams.join(hot, "h").select(
        id_col, "pos", (F.col("pos") + n - 1).alias("end")
    )
    wo = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("end").over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup.withColumn(
        "__new", F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), 1).otherwise(0)
    ).withColumn("__span", F.sum("__new").over(wo))
    return (
        flagged.groupBy(id_col, "__span")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("end").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("__span")
    )


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut the spans found by ``duplicate_spans`` out of each document,
    keeping every token not covered by a span — the surgical companion,
    same shape as ``decontaminate_surgical`` but against within-corpus
    duplication instead of a benchmark.

    Per-doc span lists are collected into an array (bounded by spans per
    doc, not corpus size) and the keep-filter runs as one positional
    ``F.filter`` lambda over the token array — pure codegen, no explode
    of the tokens, no Python. Docs with no spans pass through untouched
    via the left join. Returns (id, clean_text, n_tokens_removed)."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    # r19: name the token array and the kept-filter result — inlined,
    # ``kept`` appeared in BOTH output expressions (clean + removed) and
    # each occurrence re-ran the full filter/transform per row, itself
    # re-splitting the text (non-cheap aliases referenced >1x survive
    # CollapseProject, so each now evaluates once)
    toks = F.col("__toks")
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__spans"),
        lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
    )
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("t"), (i + 1).alias("i"))),
        lambda s: ~covered(s["i"]),
    )
    out = (
        df.join(per_doc, id_col, "left")
        .withColumn("__toks", F.split(F.col(text_col), r"\s+"))
        # span-free docs skip the filter entirely (the old lazy-branch
        # behavior): the CASE keeps the per-row work to touched docs
        .withColumn("__kept", F.when(F.col("__spans").isNotNull(), kept))
    )
    clean = F.when(
        F.col("__spans").isNull(), F.col(text_col)
    ).otherwise(F.array_join(F.transform("__kept", lambda s: s["t"]), " "))
    removed = F.when(F.col("__spans").isNull(), F.lit(0)).otherwise(
        F.size(toks) - F.size("__kept")
    )
    return out.select(
        id_col,
        clean.alias("clean_text"),
        removed.cast("long").alias("n_tokens_removed"),
    )


# --- incremental day-over-day dedup ------------------------------------------


def load_fingerprint_store(
    spark, store_dir: str, before_day: "int | None" = None
) -> "DataFrame | None":
    """Union-read the COMMITTED day partitions of a fingerprint store
    (``store_dir/day=N`` subdirs whose parquet write finished —
    ``_SUCCESS`` present; a crash mid-write leaves a torn dir that is
    skipped, and the idempotent per-day overwrite repairs it on
    re-run). ``before_day`` restricts to STRICTLY EARLIER days — the
    update path uses it so a day folds only against history and a
    re-run of the same day never anti-joins (and then overwrites)
    its own previous output. None when no committed day qualifies.
    Listing goes through the Hadoop FS API, so file:, hdfs:// and
    s3a:// stores all work."""
    from bun_csv_spark.operators.maintenance import _state_fs

    fs, path_cls = _state_fs(spark, store_dir.rstrip("/"))
    base = path_cls(store_dir.rstrip("/"))
    if not fs.exists(base):
        return None
    days = []
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("day=")):
            continue
        try:
            n = int(name[4:])
        except ValueError:
            continue
        if before_day is not None and n >= before_day:
            continue
        if fs.exists(path_cls(f"{store_dir.rstrip('/')}/{name}/_SUCCESS")):
            days.append(f"{store_dir.rstrip('/')}/{name}")
    if not days:
        return None
    return spark.read.parquet(*days)


def incremental_dedup_update(
    spark,
    day_df: DataFrame,
    store_dir: str,
    day: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom_bits: "int | None" = None,
) -> DataFrame:
    """Day-over-day exact dedup against a PERSISTED fingerprint store —
    the operation a daily crawl pipeline actually runs at corpus scale:
    fold TODAY's shard in without ever rescanning the historical
    corpus. Fingerprints today's docs (md5 of whitespace-normalized
    lowercased text, functions.text.fingerprint — same rule as
    dedup_fingerprint), keeps the min-id row per fingerprint WITHIN the
    day, anti-joins the store (fingerprints first seen on earlier
    days), and commits today's new fingerprints as an idempotent
    ``day={day}`` partition (mode=overwrite: a crashed or repeated run
    of the same day converges to the same store — no double-count,
    unlike counter-based state). Returns the day's surviving
    (id, fp) rows read back from the committed partition.

    100 TB shape: the store carries ONE ~50-byte row per unique
    document ever seen — fingerprints and ids only, never text — so the
    anti-join shuffles store digests + today's digests on fp, both
    orders of magnitude smaller than the corpus; history is never
    re-fingerprinted (each day costs one scan of the new day plus a
    digest-sized join, the same never-re-read property as
    daily_state_update).

    ``bloom_bits`` turns on the hot-path pre-prune: a Bloom bitmap of
    TODAY's fps (the small side — size m to ~16× today's unique count)
    is broadcast onto the STORE scan, so only store rows whose fp
    collides with today (true dups + deterministic false positives)
    reach the exact anti-join; the rest of the multi-year store is
    dropped map-side at its scan, never shuffled. The direction
    matters: bloom has no false NEGATIVES, so every store fp actually
    present in today survives the prune and the anti-join result is
    BIT-IDENTICAL to the unpruned path at any false-positive rate —
    FPs only cost prune efficiency, never correctness (the reverse
    direction, pruning today against a store bitmap, would need a
    bitmap sized to the whole store and still leaves the store shuffle
    in place). With a mostly-novel daily shard the surviving store
    side is small enough for AQE to broadcast, removing the anti-join
    shuffle entirely.

    No ``bucket_encoding`` here, deliberately (r16): the band store's
    narrow xxhash64 layout is safe because a bucket collision only ADDS
    a candidate pair (verified downstream); this store's fp IS the
    dedup decision, so a 64-bit collision would silently DROP a
    distinct document — at 10^10 docs the birthday bound puts the
    collision expectation near 3 (vs ~10^-18 for 128-bit md5). The
    digest store stays 128-bit."""
    from bun_csv_spark.functions.text import fingerprint as _fingerprint

    fps = day_df.select(F.col(id_col), _fingerprint(text_col).alias("fp"))
    within_day = fps.groupBy("fp").agg(F.min(id_col).alias(id_col))
    store = load_fingerprint_store(spark, store_dir, before_day=int(day))
    if store is not None:
        store_fp = store.select("fp")
        if bloom_bits is not None:
            from bun_csv_spark.operators.maintenance import bloom_semi_join

            # hot path, no oracle riding on the FP pattern (the exact
            # anti-join below makes output identical at any FP rate):
            # xxhash64 probes, ~10x cheaper than md5 on a wide store scan
            store_fp = bloom_semi_join(
                store_fp,
                within_day.select("fp"),
                "fp",
                m_bits=bloom_bits,
                hash_fn="xxhash64",
            )
        within_day = within_day.join(store_fp, "fp", "left_anti")
    out_dir = f"{store_dir.rstrip('/')}/day={int(day)}"
    within_day.select(id_col, "fp").write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)


def _check_store_params(spark, store_dir: str, params: dict) -> None:
    """Signature-parameter guard for the band store: ``_PARAMS`` (JSON)
    is written at the store root BEFORE the first day's data — the same
    write-intent-first discipline as maintenance's ``_FAMILIES`` — and
    every later fold validates against it. Folding a day with different
    (n_hashes, bands, shingle_k) would silently bucket-join
    incomparable signatures; that must raise, not degrade (the r9 kmv
    k/salt lesson, maintenance.py:482)."""
    import json as _json

    from bun_csv_spark.operators.maintenance import (
        _read_small_file,
        _state_fs,
        _write_small_file,
    )

    fs, path_cls = _state_fs(spark, store_dir.rstrip("/"))
    p = path_cls(f"{store_dir.rstrip('/')}/_PARAMS")
    if fs.exists(p):
        stored = _json.loads(_read_small_file(fs, p, limit=256))
        if stored != params:
            raise ValueError(
                f"band store {store_dir} was built with {stored}, "
                f"fold requested {params} — signatures are incomparable"
            )
    else:
        fs.mkdirs(path_cls(store_dir.rstrip("/")))
        _write_small_file(fs, p, _json.dumps(params, sort_keys=True))


def incremental_neardup_update(
    spark,
    day_df: DataFrame,
    store_dir: str,
    day: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket: int | None = 64,
    repartition: int | None = None,
    bloom_bits: "int | None" = None,
    bucket_encoding: str = "md5",
) -> DataFrame:
    """Day-over-day NEAR-dup against a persisted MinHash band store —
    the LSH twin of ``incremental_dedup_update``: fold TODAY's shard in
    without ever re-shingling the historical corpus. Bands today's docs
    (``minhash_signatures`` + LSH banding, the exact constants of
    ``neardup_pairs_minhash``), joins them against the store of band
    rows from STRICTLY EARLIER committed days, and emits the candidate
    pairs that involve at least one of today's docs: within-today pairs
    plus today-vs-history pairs, normalized to (id_a < id_b), distinct.
    Today's band rows are committed FIRST as an idempotent ``day={day}``
    partition (overwrite — a crashed or repeated run of the same day
    converges) and the returned pair plan reads the committed bytes, so
    the banding evaluates once per fold and history partitions are never
    touched (the lazy plan stays valid across later folds).

    Law (the gate's oracle): the union of every day's emitted pairs
    equals the GLOBAL ``neardup_pairs_minhash`` over the undivided
    corpus — each global pair (a, b) appears exactly once, on
    max(day(a), day(b)) — under the PREFIX-CAP reading of the
    degenerate-bucket guard: a (band, bucket) stops emitting new pairs
    once its CUMULATIVE membership (history + today) exceeds
    ``max_bucket``, but pairs emitted while it was small stand (an
    incremental fold cannot retract already-shipped pairs, so the batch
    rule "drop the whole over-cap bucket" is unreachable; the prefix
    cap gives the same bounded-work guarantee — each fold's join fans
    out at most cap² per bucket — with monotone output). Over-cap
    membership is still COMMITTED to the store: the cap gates pair
    emission, not history.

    100 TB shape: the store carries docs × bands rows of
    (id, band, bucket) — digests only, never text or shingles — so each
    fold shuffles today's band rows + the store's on (band, bucket),
    both orders of magnitude smaller than the corpus; history is never
    re-shingled, mirroring incremental_dedup's never-re-read property.
    A ``_PARAMS`` marker pins (n_hashes, bands, shingle_k) at store
    creation and every fold validates it — mixed-parameter folds raise.
    Returns (id_a, id_b) for the day.

    ``bloom_bits`` is the store-side pre-prune of the exact-dedup twin
    (``incremental_dedup_update``), keyed on the composite
    (band, bucket): a Bloom bitmap of TODAY's band buckets — the small
    side, docs × bands keys — broadcasts onto the STORE scan, so only
    history rows whose bucket collides with one of today's reach the
    candidate join; the rest of the multi-year band store is dropped
    map-side at its scan, never unioned, never shuffled. Output is
    BIT-IDENTICAL to the unpruned fold at any false-positive rate:
    bloom has no false NEGATIVES, so every history row of a
    today-touched bucket survives — which keeps the prefix-cap's
    cumulative ``__bsz`` exact for every bucket that can emit a pair —
    while false positives only retain history rows of buckets with no
    today side, which join nothing (and the cap window they land in is
    per-bucket, so they cannot flip a today-touched bucket's cap
    decision). As with the exact twin, the prune pays off once the
    store dwarfs the day (the multi-year regime); below the crossover
    the plain union wins — see SCALE.md for the measured A/B."""
    # the encoding joins the pinned signature params ONLY when narrow:
    # md5 folds stay byte-compatible with every pre-r16 store marker,
    # while an xxhash64 store refuses an md5 fold (and vice versa) —
    # mixed-encoding buckets would silently never join
    params = {"n_hashes": n_hashes, "bands": bands, "shingle_k": shingle_k}
    if bucket_encoding != "md5":
        params["bucket_encoding"] = bucket_encoding
    _check_store_params(spark, store_dir, params)
    committed = _commit_day_bands(
        spark, day_df, store_dir, day, id_col, text_col,
        n_hashes, bands, shingle_k, repartition, bucket_encoding,
    )
    return _day_pairs(
        spark, committed, store_dir, day, id_col, max_bucket, bloom_bits
    )


def _commit_day_bands(
    spark,
    day_df: DataFrame,
    store_dir: str,
    day: int,
    id_col: str,
    text_col: str,
    n_hashes: int,
    bands: int,
    shingle_k: int,
    repartition: "int | None",
    bucket_encoding: str,
) -> DataFrame:
    """Band today's docs and commit them as the idempotent ``day={day}``
    partition, returning the committed read-back. Commit FIRST, then
    derive the pairs from the committed bytes: the shingle+minhash
    banding is the fold's expensive map work, and the lazy pair plan
    references today's rows four ways (cap window, join a-side, join
    b-side, plus whatever the caller unions later). Writing once and
    re-reading the parquet evaluates the banding exactly once per fold —
    and the emitted pairs are guaranteed to describe exactly what the
    store now contains (the twin, incremental_dedup_update, commits
    first for the same reason). Depends only on its own day's input —
    never on other days' commits — which is what lets
    ``incremental_neardup_fold_days`` run commits concurrently."""
    today = _band_buckets(
        day_df, id_col, text_col, n_hashes, bands, shingle_k, repartition,
        None, bucket_encoding=bucket_encoding,
    )
    out_dir = f"{store_dir.rstrip('/')}/day={int(day)}"
    today.select(id_col, "band", "bucket").write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)


def _day_pairs(
    spark,
    committed: DataFrame,
    store_dir: str,
    day: int,
    id_col: str,
    max_bucket: "int | None",
    bloom_bits: "int | None",
) -> DataFrame:
    """The fold's candidate-pair derivation against strictly-earlier
    committed history. The ``before_day`` filter — not commit order — is
    what scopes history: partitions of day >= ``day`` already present in
    the store (re-runs, or the concurrent commits of
    ``incremental_neardup_fold_days``) are excluded at listing time, so
    the emitted pairs are identical however the commits were ordered
    (the store-visibility law, pinned in tests/test_round19_ops.py)."""
    hist = load_fingerprint_store(spark, store_dir, before_day=int(day))
    tagged = committed.withColumn("__today", F.lit(True))
    if hist is not None:
        hist_rows = hist.select(id_col, "band", "bucket")
        if bloom_bits is not None:
            from bun_csv_spark.operators.maintenance import bloom_semi_join

            # bucket cast covers both encodings (md5 string no-op,
            # xxhash64 long -> decimal string)
            bk = F.concat_ws(
                "|",
                F.col("band").cast("string"),
                F.col("bucket").cast("string"),
            )
            # xxhash64 probes (see incremental_dedup_update: output is
            # bit-identical at any FP rate, so the portable-md5 oracle
            # constraint doesn't apply to this hot path); large m_bits
            # auto-selects the words-table layout — the 1-row map's
            # linear element_at made the prune 7x SLOWER at 30 Mbit
            hist_rows = bloom_semi_join(
                hist_rows.withColumn("__bk", bk),
                committed.select(bk.alias("__bk")),
                "__bk",
                m_bits=bloom_bits,
                hash_fn="xxhash64",
            ).drop("__bk")
        tagged = hist_rows.select(
            id_col, "band", "bucket", F.lit(False).alias("__today")
        ).unionByName(tagged)
    tagged = _cap_buckets(tagged, max_bucket)
    return (
        tagged.alias("a")
        .join(
            tagged.filter(F.col("__today")).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )


def incremental_neardup_fold_days(
    spark,
    day_dfs: "list[tuple[int, DataFrame]]",
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 5,
    max_bucket: int | None = 64,
    repartition: int | None = None,
    bloom_bits: "int | None" = None,
    bucket_encoding: str = "md5",
    max_commit_jobs: int = 3,
) -> "list[DataFrame]":
    """Fold SEVERAL days into the band store with the commit jobs
    OVERLAPPED (r19, guide §2.6 "overlap independent jobs"): each day's
    band+commit depends only on its own input — never on other days'
    partitions — so the expensive shingle+minhash write jobs run from a
    small thread pool and the tail of one day's write back-fills cores
    with the next day's map work. Sequential ``incremental_neardup_update``
    calls serialize those writes for no reason.

    Correctness does NOT rest on commit order: each day's pair derivation
    lists the store AFTER every commit has finished, and
    ``load_fingerprint_store(before_day=d)`` excludes partitions of
    day >= d at listing time, so day d joins exactly the history the
    sequential fold saw — future-day partitions being present is already
    the re-run scenario the store's idempotent day-overwrite design
    handles. The law (fold_days pair sets == sequential update pair sets,
    day by day) is pinned in tests/test_round19_ops.py.

    Returns one pair DataFrame per input day, in input order."""
    from concurrent.futures import ThreadPoolExecutor

    params = {"n_hashes": n_hashes, "bands": bands, "shingle_k": shingle_k}
    if bucket_encoding != "md5":
        params["bucket_encoding"] = bucket_encoding
    _check_store_params(spark, store_dir, params)

    def commit(item):
        day, df = item
        spark.sparkContext.setJobDescription(
            f"incremental_neardup fold: commit day={day}"
        )
        return _commit_day_bands(
            spark, df, store_dir, day, id_col, text_col,
            n_hashes, bands, shingle_k, repartition, bucket_encoding,
        )

    # 2-3 jobs in flight is plenty (guide §2.6): enough to fill each
    # write's task tail, not so many that they fight for executors
    with ThreadPoolExecutor(max_workers=max(1, max_commit_jobs)) as pool:
        committed = list(pool.map(commit, day_dfs))
    return [
        _day_pairs(spark, c, store_dir, day, id_col, max_bucket, bloom_bits)
        for (day, _), c in zip(day_dfs, committed)
    ]
