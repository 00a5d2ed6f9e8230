"""Text analysis + dedup operators (extension surface; BASELINE north star)."""

import pytest
from pyspark.sql import functions as F

from bun_csv_spark.functions.text import (
    char_shingles,
    detect_language,
    fingerprint,
    token_count,
    word_ngrams,
)
from bun_csv_spark.operators.dedup import (
    dedup_exact,
    dedup_fingerprint,
    minhash_signatures,
    neardup_pairs_minhash,
    ngram_jaccard_pairs,
    simhash64,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "The  Quick  Brown  Fox jumps over the lazy dog"),  # ws/case variant
        (4, "completely different text about spark engines"),
        (5, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("  x ",)], "t string")
    assert [r.n for r in df.select(token_count("t").alias("n")).collect()] == [3, 0, 1]


def test_char_shingles(spark):
    df = spark.createDataFrame([("abcdef",), ("ab",)], "t string")
    out = [r.s for r in df.select(char_shingles("t", 3).alias("s")).collect()]
    assert out[0] == ["abc", "bcd", "cde", "def"]
    assert out[1] == ["ab"]  # shorter than k -> whole text


def test_word_ngrams(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    out = [r.g for r in df.select(word_ngrams("t", 3).alias("g")).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == ["a b"]


def test_fingerprint_normalizes(spark, docs):
    fps = {r.doc_id: r.fp for r in docs.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3]  # case/whitespace variants collapse
    assert fps[1] != fps[4]


def test_dedup_exact(docs):
    out = dedup_exact(docs, ["text"], "doc_id")
    assert out.count() == 4  # 1 and 2 collapse
    kept = {r.doc_id for r in out.collect()}
    assert 1 in kept and 2 not in kept  # deterministic min-id representative


def test_dedup_fingerprint(docs):
    out = dedup_fingerprint(docs, "text", "doc_id")
    groups = {r.keep_id: r.n_dups for r in out.collect()}
    assert groups[1] == 3  # docs 1,2,3 share a fingerprint


def test_minhash_identical_docs_equal_signatures(docs):
    sig = {r.doc_id: tuple(r)[1:] for r in minhash_signatures(docs, "doc_id", "text").collect()}
    assert sig[1] == sig[2]
    # near-dup shares most hash slots
    shared = sum(a == b for a, b in zip(sig[1], sig[5]))
    assert shared >= 4


def test_neardup_pairs_finds_dups(docs):
    pairs = {(r.id_a, r.id_b) for r in neardup_pairs_minhash(docs, "doc_id", "text").collect()}
    assert (1, 2) in pairs
    assert all(a < b for a, b in pairs)


def test_lsh_bucket_cap_degenerate(spark):
    """10k identical short docs hash to ONE bucket per band; without the
    max_bucket cap the self-join is quadratic (~2·10⁸ candidate pairs).
    The cap drops the degenerate buckets, while genuine near-dups in
    ordinary buckets still pair."""
    degenerate = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("aaaaaa").alias("text")
    )
    real = spark.createDataFrame(
        [
            (100_001, "the quick brown fox jumps over the lazy dog tonight"),
            (100_002, "the quick brown fox jumps over the lazy dog tonite"),
        ],
        "doc_id long, text string",
    )
    pairs = neardup_pairs_minhash(
        degenerate.unionAll(real), "doc_id", "text", max_bucket=64
    ).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (100_001, 100_002) in ids
    # every pair from the 10k-doc bucket is suppressed
    assert all(a > 100_000 for a, _ in ids)


def test_ngram_jaccard(spark, docs):
    pairs = spark.createDataFrame([(1, 2), (1, 4)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, pairs, "doc_id", "text").collect()}
    assert out[(1, 2)] == 1.0
    assert out[(1, 4)] == 0.0


def test_simhash_near_dups_close(docs):
    sh = {r.doc_id: r.h for r in docs.select("doc_id", simhash64("text").alias("h")).collect()}
    assert sh[1] == sh[2]

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(sh[1], sh[5]) < hamming(sh[1], sh[4])


def test_stratified_sample(spark):
    from bun_csv_spark.operators.util import stratified_sample

    df = spark.range(10000).select(
        (F.col("id") % 2 == 0).cast("string").alias("s"), "id"
    )
    out = stratified_sample(df, "s", {"true": 0.1, "false": 0.9}, seed=7)
    counts = {r.s: r.n for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert 300 < counts["true"] < 700  # ~10% of 5000
    assert 4200 < counts["false"] < 4800  # ~90% of 5000
    # deterministic for a fixed seed
    again = stratified_sample(df, "s", {"true": 0.1, "false": 0.9}, seed=7)
    assert sorted(r.id for r in out.collect()) == sorted(r.id for r in again.collect())


def test_connected_components(spark):
    from bun_csv_spark.operators.dedup import connected_components

    # two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    out = {r.node: r.label for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


@pytest.mark.parametrize("max_iter", [0, -1])
def test_connected_components_rejects_nonpositive_max_iter(spark, max_iter):
    from bun_csv_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(pairs, max_iter=max_iter)


def test_detect_language(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the house with a mouse"),
            (2, "der Hund und die Katze sind nicht mit der Maus"),
            (3, "el perro y la casa de los gatos es una maravilla por la tarde"),
            (4, "zzzz qqqq xxxx"),
        ],
        "id long, text string",
    )
    out = {r.id: r.lang for r in df.select("id", detect_language("text").alias("lang")).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "es"
    assert out[4] == "und"


def test_chunk_tokens_overlap(spark):
    from bun_csv_spark.functions.text import chunk_tokens

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(text,), ("",)], "t string")
    out = [r.c for r in df.select(chunk_tokens("t", 4, 1).alias("c")).collect()]
    chunks = [(c["chunk_idx"], c["chunk_text"], c["n_tokens"]) for c in out[0]]
    # stride 3, ceil((10-1)/3)=3 chunks at offsets 0,3,6 — all tokens covered
    assert chunks[0] == (0, "w0 w1 w2 w3", 4)
    assert chunks[1] == (1, "w3 w4 w5 w6", 4)
    assert chunks[-1] == (2, "w6 w7 w8 w9", 4)
    assert len(chunks) == 3
    # consecutive chunks share exactly the overlap token
    assert chunks[0][1].split()[-1] == chunks[1][1].split()[0]
    # empty doc -> one empty chunk
    assert [(c["chunk_idx"], c["chunk_text"], c["n_tokens"]) for c in out[1]] == [
        (0, "", 0)
    ]


def test_redact_pii(spark):
    from bun_csv_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [("mail a.b+c@ex-ample.org, ip 192.168.0.1, call +44 20 7946 0958 now",)],
        "t string",
    )
    out = df.select(redact_pii("t").alias("r")).first().r
    assert out == "mail <EMAIL>, ip <IP>, call <PHONE> now"


def test_pack_sequences(spark):
    from pyspark.sql import functions as F

    from bun_csv_spark.operators.packing import pack_sequences

    rows = [(i, 0, 300) for i in range(6)]  # 300 tokens each, one shard
    df = spark.createDataFrame(rows, "doc_id long, shard long, n_tok long")
    out = {
        r.doc_id: (r.pack_id, r.pack_pos)
        for r in pack_sequences(
            df, "n_tok", budget=512, order_col="doc_id", shard_col="shard"
        ).collect()
    }
    # offsets 0,300,600,900,1200,1500 -> packs 0,0,1,1,2,2
    assert out == {0: (0, 0), 1: (0, 1), 2: (1, 0), 3: (1, 1), 4: (2, 0), 5: (2, 1)}
    # default hash sharding still covers every row exactly once
    n = pack_sequences(
        df.drop("shard"), "n_tok", budget=512, order_col="doc_id"
    ).count()
    assert n == 6


def test_chunk_tokens_covers_every_token(spark):
    """Property: for any doc length, every token index is covered by some
    chunk, chunk starts advance by the stride, and no chunk exceeds
    max_tokens."""
    from bun_csv_spark.functions.text import chunk_tokens

    rows = [(n, " ".join(f"t{i}" for i in range(n))) for n in range(0, 40)]
    df = spark.createDataFrame(rows, "n long, t string")
    out = df.select("n", chunk_tokens("t", 7, 2).alias("c")).collect()
    stride = 5
    for r in out:
        covered = set()
        for c in r.c:
            toks = c["chunk_text"].split() if c["chunk_text"] else []
            assert len(toks) == c["n_tokens"] <= 7
            start = c["chunk_idx"] * stride
            assert toks == [f"t{i}" for i in range(start, start + len(toks))]
            covered.update(range(start, start + len(toks)))
        assert covered == set(range(r.n))  # nothing dropped, nothing invented


def test_pack_sequences_invariants(spark):
    """Property: contiguous fill — pack_id is nondecreasing in order
    within a shard, positions are dense per pack, and a pack's starting
    offset is below its budget boundary."""
    from bun_csv_spark.operators.packing import pack_sequences

    rows = [(i, i % 3, (i * 37) % 400 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, shard long, n_tok long")
    out = pack_sequences(
        df, "n_tok", budget=1000, order_col="doc_id", shard_col="shard"
    ).collect()
    by_shard = {}
    for r in sorted(out, key=lambda r: (r.shard, r.doc_id)):
        by_shard.setdefault(r.shard, []).append(r)
    for shard_rows in by_shard.values():
        cum = 0
        packs = {}
        last_pack = 0
        for r in shard_rows:
            assert r.pack_id == cum // 1000  # start offset rule
            assert r.pack_id >= last_pack
            last_pack = r.pack_id
            packs.setdefault(r.pack_id, []).append(r.pack_pos)
            cum += r.n_tok
        for poss in packs.values():
            assert sorted(poss) == list(range(len(poss)))  # dense positions


def test_token_budget_sample_partitioned(spark):
    """Per-bucket budgets: total tokens stay within budget, the sample is
    rerun-stable, and the plan has NO single-partition global window (the
    round-3 scale fix — the only exchange is the bucket hash)."""
    from bun_csv_spark.operators.corpus import token_budget_sample

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 17 + 3)) for i in range(400)], "doc_id long, text string"
    )
    out = token_budget_sample(docs, "text", "doc_id", budget=1500, n_buckets=8)
    rows = out.collect()
    total = sum(r["__n_tok"] for r in rows)
    assert 0 < total <= 1500
    # deterministic across reruns
    assert {r.doc_id for r in rows} == {
        r.doc_id
        for r in token_budget_sample(
            docs, "text", "doc_id", budget=1500, n_buckets=8
        ).collect()
    }
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan


def test_oversample_factor_zero_and_negative(spark):
    """factor < 1 must DROP the row: sequence(1, 0) auto-steps downward in
    Spark and would re-emit it without the factor >= 1 gate."""
    from bun_csv_spark.operators.corpus import oversample_by_factor

    df = spark.createDataFrame(
        [(1, 3), (2, 1), (3, 0), (4, -1)], "doc_id long, fac int"
    )
    out = oversample_by_factor(df, F.col("fac")).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.epoch)
    assert sorted(per_doc[1]) == [1, 2, 3]
    assert per_doc[2] == [1]
    assert 3 not in per_doc and 4 not in per_doc


def test_cap_per_group(spark):
    from bun_csv_spark.operators.corpus import cap_per_group

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)], "doc_id long, source string"
    )
    out = cap_per_group(df, "source", "doc_id", 4).collect()
    per = {}
    for r in out:
        per.setdefault(r.source, []).append(r.doc_id)
    for s, ids in per.items():
        assert len(ids) == 4
        # deterministic: the 4 SMALLEST doc_ids per source
        assert sorted(ids) == sorted(r for r in range(30) if f"s{r % 3}" == s)[:4]


def test_quality_percentile_filter(spark):
    from bun_csv_spark.operators.corpus import quality_percentile_filter

    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, v double")
    kept = quality_percentile_filter(df, F.col("v"), keep_top_fraction=0.25)
    ids = sorted(r.id for r in kept.collect())
    # exact p75 of 0..99 = 74.25 -> keep v >= 74.25 -> ids 75..99
    assert ids == list(range(75, 100))


def test_char_entropy_values(spark):
    import math

    from bun_csv_spark.functions.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "")],
        "id long, t string",
    )
    out = {r.id: r.e for r in df.select("id", char_entropy("t").alias("e")).collect()}
    assert out[1] == 0.0          # single symbol
    assert abs(out[2] - 1.0) < 1e-9   # two symbols, uniform
    assert abs(out[3] - 2.0) < 1e-9   # four symbols, uniform
    assert out[4] == 0.0          # empty text


def test_quantize_int8_roundtrip(spark):
    from bun_csv_spark.functions.vectors import quantize_int8

    rows = [(0, [0.0, -1.0, 5.0]), (1, [1.0, 1.0, 5.0]), (2, [2.0, 3.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {(r.vec_id, r.pos): r.q for r in quantize_int8(df, "vec_id", "embedding", 3).collect()}
    # dim 0 spans [0,2] -> 0, 127.5->128(floor(127.5+0.5)=128), 255
    assert (out[(0, 0)], out[(1, 0)], out[(2, 0)]) == (0, 128, 255)
    # dim 1 spans [-1,3]
    assert (out[(0, 1)], out[(1, 1)], out[(2, 1)]) == (0, 128, 255)
    # degenerate dim (constant) -> 0
    assert {out[(i, 2)] for i in range(3)} == {0}
    assert all(0 <= q <= 255 for q in out.values())


def test_boilerplate_prefix_groups(spark):
    from bun_csv_spark.operators.corpus import boilerplate_prefix_groups

    base = "x" * 70
    df = spark.createDataFrame(
        [(1, base + " tail one"), (2, base + " other tail"), (3, "unique " + "y" * 70)],
        "doc_id long, text string",
    )
    out = boilerplate_prefix_groups(df, "doc_id", "text", 64).collect()
    assert len(out) == 1 and out[0].n_docs == 2 and out[0].keep_id == 1


def test_shared_substring_pairs(spark):
    from bun_csv_spark.operators.dedup import shared_substring_pairs

    span = "this exact sentence is copied verbatim between two documents and is quite long"
    # prefixes of length 19 and 22: offsets differ by a NON-multiple of the
    # stride — fixed-stride anchors would never align; content-defined
    # anchors pick the same offsets inside the span regardless
    df = spark.createDataFrame(
        [
            (1, "intro text before. " + span + " trailing words here"),
            (2, "different beginning... " + span + " and another ending"),
            (3, "completely unrelated content with no overlap at all " + "z" * 60),
        ],
        "doc_id long, text string",
    )
    out = shared_substring_pairs(df, "doc_id", "text", window=30, stride=5).collect()
    pairs = {(r.id_a, r.id_b): r.n_shared for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1  # the copied span is caught
    assert all(k == (1, 2) for k in pairs)  # doc 3 matches nothing
    # short docs contribute nothing (explode of gated NULL drops them)
    tiny = spark.createDataFrame([(9, "short")], "doc_id long, text string")
    assert shared_substring_pairs(tiny, "doc_id", "text").count() == 0


def test_temperature_resample_upweights_small_sources(spark):
    from bun_csv_spark.operators.corpus import temperature_resample

    # 900 docs from 'big', 100 from 'small'
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_resample(df, "source", "doc_id", alpha=0.5, target_frac=0.5)
    got = {r.source: 0 for r in out.collect()}
    for r in out.collect():
        got[r.source] += 1
    # alpha=0.5 target shares: sqrt(.9)/(sqrt(.9)+sqrt(.1)) ~ 0.75 of 500
    # kept docs from big (rate ~0.42), ~0.25 from small (rate capped at 1.0
    # -> everything kept). The md5 sampler is deterministic, so bounds are
    # stable, not flaky.
    assert got["small"] == 100          # capped rate keeps all
    assert 300 <= got["big"] <= 450     # ~0.42 * 900 = 375 expected
    # determinism: the exact same sample on re-run
    again = temperature_resample(df, "source", "doc_id", alpha=0.5, target_frac=0.5)
    assert sorted(r.doc_id for r in again.collect()) == sorted(
        r.doc_id for r in out.collect()
    )


def test_quality_percentile_filter_approx_path(spark):
    """exact=False (the 100 TB path) must run and approximate the same cut."""
    from bun_csv_spark.operators.corpus import quality_percentile_filter

    df = spark.createDataFrame([(i, float(i)) for i in range(1000)], "id long, v double")
    kept = quality_percentile_filter(df, F.col("v"), 0.25, exact=False)
    ids = sorted(r.id for r in kept.collect())
    assert 200 <= len(ids) <= 300 and min(ids) >= 700  # ~top quarter


def test_decontaminate_surgical_cuts_exact_spans(spark):
    from bun_csv_spark.operators.corpus import decontaminate_surgical

    evald = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains the eval 5-gram "secret benchmark answer is forty"
            (1, "intro words then the secret benchmark answer is forty two and more trailing text"),
            (2, "totally clean document with no overlap whatsoever present"),
            (3, "the secret benchmark answer is forty two"),  # fully covered? (all 5-grams match)
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in decontaminate_surgical(train, evald, n=5).collect()}
    # doc 1: tokens covered by matching 5-grams are removed, rest intact
    r1 = out[1]
    assert "secret" not in r1.clean_text and "benchmark" not in r1.clean_text
    assert r1.clean_text.startswith("intro words then")
    assert r1.clean_text.endswith("trailing text")
    assert r1.n_tokens_kept + r1.n_tokens_cut == 14
    # doc 2 untouched
    assert out[2].n_tokens_cut == 0 and out[2].clean_text.startswith("totally clean")
    # doc 3 is the eval text itself -> every token covered
    assert out[3].clean_text == "" and out[3].n_tokens_kept == 0


def test_editdist_verify_scores_candidates(spark):
    from bun_csv_spark.operators.dedup import editdist_verify

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fax"), (3, "zzz")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): (r.lev, r.sim) for r in
           editdist_verify(corpus, pairs).collect()}
    assert out[(1, 2)][0] == 1                      # one substitution
    assert abs(out[(1, 2)][1] - (1 - 1 / 19)) < 1e-6
    assert out[(1, 3)][1] < 0.2                     # unrelated pair scores low


def test_unicode_normalization_udfs(spark):
    from bun_csv_spark.functions.text import nfc_normalize_udf, strip_accents_udf

    rows = [(1, "Café über"), (2, "plain"), (3, None)]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {r.id: (r.n, r.s) for r in df.select(
        "id",
        nfc_normalize_udf("t").alias("n"),
        strip_accents_udf("t").alias("s"),
    ).collect()}
    assert out[1] == ("Café über", "Cafe uber")  # composed / folded
    assert out[2] == ("plain", "plain")
    assert out[3] == (None, None)


def test_compression_ratio_separates_repetitive_text(spark):
    from bun_csv_spark.functions.text import compression_ratio_udf

    rows = [
        (1, "spam spam spam " * 50),
        (2, "The five boxing wizards jump quickly over a lazy brown dog; "
            "Jackdaws love my big sphinx of quartz, vexing waltz nymphs."),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {r.id: r.cr for r in df.select(
        "id", compression_ratio_udf("t").alias("cr")).collect()}
    assert out[1] < 0.1          # templated text collapses
    assert out[2] > 0.5          # natural prose does not
    assert out[3] == 1.0         # empty-string guard
