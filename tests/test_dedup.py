"""Dedup operator tests: exact, n-gram Jaccard, MinHash-LSH, SimHash."""

from __future__ import annotations

import pytest

from clickhouse_only_importer_prototype_spark.operators import dedup


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Small corpus with known duplicate structure."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "the quick brown fox jumps over the lazy dog near the river shore"
    far = "completely different text about spark query engines and columnar data"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, "The  Quick brown fox jumps over the lazy dog near the river bank"),
        # normalized-exact dup of 0 (case+whitespace)
        (3, near),  # near dup of 0
        (4, far),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates_groups(spark, dup_docs):
    groups = {r.keeper_doc_id: r.dup_count for r in dedup.exact_duplicates(dup_docs).collect()}
    assert groups[0] == 3  # docs 0,1,2 share normalized text
    assert groups[3] == 1
    assert sum(groups.values()) == 6


def test_ngram_jaccard_finds_near_dup(spark, dup_docs):
    pairs = dedup.ngram_jaccard_pairs(dup_docs, n=3, threshold=0.5).collect()
    by_pair = {(r.doc_a, r.doc_b): r.jaccard_per_1000 for r in pairs}
    # exact dups share all shingles
    assert by_pair[(0, 1)] == 1000
    assert by_pair[(0, 2)] == 1000
    # near dup: 13 tokens -> 11 shingles, only the final shingle differs
    assert (0, 3) in by_pair
    assert 500 <= by_pair[(0, 3)] < 1000
    # unrelated docs absent
    assert not any(4 in p for p in by_pair)


def test_jaccard_per1000_value(spark, dup_docs):
    pairs = dedup.ngram_jaccard_pairs(dup_docs, n=3, threshold=0.1).collect()
    row = next(r for r in pairs if (r.doc_a, r.doc_b) == (0, 3))
    # sets of 11 shingles each, 10 shared -> J = 10/12 = 0.8333 -> 833
    assert row.inter_size == 10
    assert row.size_a == 11 and row.size_b == 11
    assert row.jaccard_per_1000 == 833


def test_minhash_signature_shape_and_determinism(spark, dup_docs):
    sig = dedup.minhash_signatures(dup_docs, num_hashes=16)
    rows = {r.doc_id: r.signature for r in sig.collect()}
    assert all(len(s) == 16 for s in rows.values())
    assert rows[0] == rows[1]  # identical docs -> identical signatures
    rows2 = {r.doc_id: r.signature for r in sig.collect()}
    assert rows == rows2


def test_minhash_lsh_recovers_near_dups(spark, dup_docs):
    pairs = dedup.minhash_dedup_pairs(
        dup_docs, num_hashes=32, bands=16, threshold=0.5
    ).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (0, 1) in found and (0, 2) in found and (1, 2) in found
    assert (0, 3) in found  # J=0.66 caught with 16 bands of 2


def test_simhash_deterministic_and_near(spark, dup_docs):
    sigs = {r.doc_id: r.simhash for r in dedup.simhash(dup_docs).collect()}
    assert sigs[0] == sigs[1]
    ham = bin(sigs[0] ^ sigs[3]).count("1")
    far = bin(sigs[0] ^ sigs[4]).count("1")
    assert ham < far  # near-dup closer in hamming space than unrelated


def test_simhash_neardup_pairs(spark, dup_docs):
    pairs = dedup.simhash_neardup_pairs(dup_docs, max_hamming=8).collect()
    found = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert found[(0, 1)] == 0
    assert (0, 4) not in found


def test_simhash_portable_matches_python_reference(spark, dup_docs):
    """The JVM 60-bit signature equals an independent Python SimHash
    over the same md5-15-hex token hashes (count-weighted votes)."""
    import hashlib
    import re

    def ref(text):
        toks = [t for t in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if t]
        votes = [0] * 60
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for j in range(60):
                votes[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(60) if votes[j] > 0)

    rows = dup_docs.select("doc_id", "text").collect()
    got = {r.doc_id: r.simhash for r in dedup.simhash_portable(dup_docs).collect()}
    assert got == {r.doc_id: ref(r.text) for r in rows}


def test_simhash_portable_banding_equals_brute_force(spark, sf_dir):
    """Pigeonhole banding over 4x15-bit chunks finds EXACTLY the pairs a
    quadratic Hamming scan finds at d <= 3 (lossless candidates)."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_portable(docs).collect()}
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_neardup_pairs(
            docs, max_hamming=3, hash_fn="md5"
        ).collect()
    }
    assert got == brute


def test_dedup_stats(spark, dup_docs):
    row = dedup.dedup_stats(dup_docs).collect()[0]
    assert row.total_docs == 6
    assert row.distinct_texts == 4
    assert row.dup_groups == 1


def test_neardup_clusters_components(spark):
    from clickhouse_only_importer_prototype_spark.operators.dedup import (
        neardup_clusters,
    )

    # components: {1,2,3,4} (chain), {10,11}, singleton 20 not in edges
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (4, 1)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_id for r in neardup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_neardup_clusters_long_chain(spark):
    from clickhouse_only_importer_prototype_spark.operators.dedup import (
        neardup_clusters,
    )

    # a 12-node path exercises multi-round propagation; force the
    # distributed label-propagation path (threshold 0) so the iterative
    # code keeps coverage now that small graphs union-find on the driver
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in neardup_clusters(pairs, driver_cc_max_edges=0).collect()
    }
    assert got == {i: 0 for i in range(12)}


def test_neardup_clusters_driver_and_distributed_agree(spark):
    import random

    from clickhouse_only_importer_prototype_spark.operators.dedup import (
        neardup_clusters,
    )

    rng = random.Random(5)
    # random graph: chains, triangles, stars, singletons-in-pairs
    edges = {(rng.randrange(300), rng.randrange(300)) for _ in range(250)}
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {
        (r.doc_id, r.cluster_id) for r in neardup_clusters(pairs).collect()
    }
    slow = {
        (r.doc_id, r.cluster_id)
        for r in neardup_clusters(pairs, driver_cc_max_edges=0).collect()
    }
    assert fast == slow


def test_minhash_dedup_clusters_equals_expanded_graph(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators.dedup import (
        minhash_dedup_clusters,
        minhash_dedup_pairs,
        neardup_clusters,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fast = {
        (r.doc_id, r.cluster_id)
        for r in minhash_dedup_clusters(
            docs, num_hashes=32, bands=16, threshold=0.8
        ).collect()
    }
    pairs = minhash_dedup_pairs(docs, num_hashes=32, bands=16, threshold=0.8)
    naive = {
        (r.doc_id, r.cluster_id) for r in neardup_clusters(pairs).collect()
    }
    assert fast == naive


def test_expand_cross_orients_sizes(spark):
    # docs 1,5 identical (group rep 1); doc 2 near-dup of them with a
    # different set size. Expanded pair (2,5) must report each doc's OWN
    # set size even though the member orientation flips vs the rep pair.
    from clickhouse_only_importer_prototype_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    x = "alpha beta gamma delta epsilon zeta"          # 4 3-shingles
    y = x + " eta"                                      # 5 3-shingles
    rows = [(1, x), (5, x), (2, y)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.size_a, r.size_b, r.jaccard_per_1000)
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    }
    assert got[(1, 2)] == (4, 5, 800)
    assert got[(2, 5)] == (5, 4, 800)  # sizes follow the docs, not the reps
    assert got[(1, 5)] == (4, 4, 1000)


def test_jaccard_threshold_boundary_exact(spark):
    # J exactly at the threshold must be kept: t=0.28 with sizes 7/25
    # trips float ceil (0.28*25 -> 7.0000000000000001 -> ceil 8)
    from clickhouse_only_importer_prototype_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    words = [f"w{i}" for i in range(27)]  # 25 3-shingles
    big = " ".join(words)
    small = " ".join(words[:9])           # 7 3-shingles, subset of big
    df = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard_per_1000
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.28).collect()
    }
    assert got == {(1, 2): 280}


def test_minhash_clusters_skip_zero_shingle_dups(spark):
    # duplicated sub-n-token texts have no shingles -> no pairs -> must
    # be absent from clusters (equivalence with the expanded graph)
    from clickhouse_only_importer_prototype_spark.operators.dedup import (
        minhash_dedup_clusters,
        minhash_dedup_pairs,
        neardup_clusters,
    )

    rows = [(1, "hi"), (2, "hi"), (3, "a b c d e f"), (4, "a b c d e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {
        (r.doc_id, r.cluster_id)
        for r in minhash_dedup_clusters(df, threshold=0.8).collect()
    }
    naive = {
        (r.doc_id, r.cluster_id)
        for r in neardup_clusters(minhash_dedup_pairs(df, threshold=0.8)).collect()
    }
    assert fast == naive == {(3, 3), (4, 3)}


def test_contamination_pairs_and_decontaminate(spark):
    from clickhouse_only_importer_prototype_spark.operators.dedup import (
        contamination_pairs,
        decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota"),  # 2 shared 8-grams
            (1, "totally different words with no overlap at all here"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),       # exact 8-gram
            (3, "short text"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    hits = {
        (r.doc_id, r.bench_id): r.overlap_ngrams
        for r in contamination_pairs(corpus, bench, n=8).collect()
    }
    # doc 0 contains the bench 8-gram plus one shifted gram; doc 2 is exact
    assert hits[(2, 100)] == 1
    assert hits[(0, 100)] == 1  # only the identical 8-gram overlaps
    assert (1, 100) not in hits and (3, 100) not in hits
    clean = {r.doc_id for r in decontaminate(corpus, bench, n=8).collect()}
    assert clean == {1, 3}


def test_contamination_broadcasts_bench(spark, sf_dir):
    from clickhouse_only_importer_prototype_spark.operators.dedup import (
        contamination_pairs,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        contamination_pairs(docs, bench, n=8).explain("extended")
    physical = buf.getvalue().split("== Physical Plan ==")[1]
    assert "BroadcastHashJoin" in physical
    assert "SortMergeJoin" not in physical


def test_contamination_broadcast_opt_out(spark):
    """broadcast_bench=False drops the forced hint (big-bench escape
    valve) without changing results."""
    from clickhouse_only_importer_prototype_spark.operators.dedup import (
        contamination_pairs,
    )

    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (1, "totally different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    forced = contamination_pairs(corpus, bench, n=8).collect()
    free = contamination_pairs(
        corpus, bench, n=8, broadcast_bench=False
    ).collect()
    assert sorted(map(tuple, forced)) == sorted(map(tuple, free))


def test_chunk_dedup_first_occurrence_wins(spark):
    # doc 0: two distinct 4-token chunks; doc 1 repeats doc 0's text
    # (all chunks recycled); doc 2 shares the first chunk only
    a = "alpha beta gamma delta"
    b = "epsilon zeta eta theta"
    rows = [(0, f"{a} {b}"), (1, f"{a} {b}"), (2, f"{a} iota kappa lam mu")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.chunk_dedup(df, chunk_tokens=4).collect()
    }
    assert out[0].n_chunks == 2 and out[0].kept_chunks == 2
    assert out[0].kept_tokens == 8
    assert out[1].kept_chunks == 0 and out[1].kept_tokens == 0
    # doc 2: chunk0 == a (recycled), chunk1 = "iota kappa lam mu" (new)
    assert out[2].n_chunks == 2 and out[2].kept_chunks == 1
    assert out[2].kept_tokens == 4


def test_chunk_dedup_tail_chunk_and_empty(spark):
    rows = [(0, "one two three four five"), (1, "   "), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.chunk_dedup(df, chunk_tokens=4).collect()
    # empty/whitespace docs have no chunks and drop out
    assert [r.doc_id for r in out] == [0]
    r = out[0]
    # 5 tokens -> one full chunk + one 1-token tail, all kept
    assert r.n_chunks == 2 and r.kept_chunks == 2 and r.kept_tokens == 5


def _pairset(df):
    return {tuple(r) for r in df.collect()}


def test_collapse_gate_paths_identical_on_dup_corpus(spark, dup_docs):
    """collapse=None probes, finds dups, and must equal the forced
    collapsed path — and the forced UNcollapsed path (the gate's
    losslessness claim) — on a corpus WITH exact dups."""
    for fn, kw in [
        (dedup.ngram_jaccard_pairs, dict(threshold=0.5)),
        (dedup.minhash_dedup_pairs, dict(threshold=0.5)),
        (dedup.minhash_lsh_candidates, dict()),
        (dedup.minhash_dedup_clusters, dict(threshold=0.5)),
    ]:
        auto = _pairset(fn(dup_docs, **kw))
        forced = _pairset(fn(dup_docs, collapse=True, **kw))
        plain = _pairset(fn(dup_docs, collapse=False, **kw))
        assert auto == forced == plain, fn.__name__


def test_collapse_gate_skips_on_dup_free_corpus(spark, dup_docs):
    """On a dup-free corpus the probe must pick the uncollapsed path
    and produce the same pairs as the forced collapsed one."""
    keepers = dedup.exact_duplicates(dup_docs).selectExpr(
        "keeper_doc_id AS doc_id"
    )
    uniq = dup_docs.join(keepers, "doc_id", "left_semi")  # 4 distinct texts
    assert not dedup._has_exact_dups(uniq)
    auto = _pairset(dedup.ngram_jaccard_pairs(uniq, threshold=0.5))
    forced = _pairset(
        dedup.ngram_jaccard_pairs(uniq, threshold=0.5, collapse=True)
    )
    assert auto == forced
    # simhash pair path gates on signature dups internally
    auto_sh = _pairset(dedup.simhash_neardup_pairs(uniq, hash_fn="md5"))
    full_sh = _pairset(dedup.simhash_neardup_pairs(dup_docs, hash_fn="md5"))
    # the dup corpus's extra pairs are exactly the exact-dup expansions
    assert auto_sh <= full_sh


def test_collapse_gate_is_ratio_not_existence(spark):
    """The dup probe is a break-even RATIO (>=5% dup fraction), not an
    any-dup test: one duplicate in a 100-doc corpus must NOT trigger
    the collapse machinery (its groupBy + expansion joins cost more
    than the single trivial pair they avoid), while a 50%-dup corpus
    must."""
    uniq = [(i, f"unique document number {i} with filler words {i * 7}")
            for i in range(99)]
    almost = spark.createDataFrame(
        uniq + [(99, uniq[0][1])], "doc_id long, text string"
    )
    assert not dedup._has_exact_dups(almost)  # 1% dups: skip collapse
    heavy = spark.createDataFrame(
        [(i, f"repeated text block {i % 5}") for i in range(100)],
        "doc_id long, text string",
    )
    assert dedup._has_exact_dups(heavy)  # 95% dups: collapse pays


def test_simhash_portable_gate_matches_forced_paths(spark, dup_docs):
    auto = _pairset(dedup.simhash_portable(dup_docs))
    assert auto == _pairset(dedup.simhash_portable(dup_docs, collapse=True))
    assert auto == _pairset(dedup.simhash_portable(dup_docs, collapse=False))


def test_max_shingle_freq_forces_collapse_counting(spark):
    """Shingle document frequency is defined over DISTINCT texts: with
    max_shingle_freq set, collapse=None must take the collapsed path
    (raw-doc counting would let duplicate copies push a shingle past
    the cut and silently change the pair set)."""
    rows = [
        (1, "common words here alpha beta"),
        (2, "common words here alpha beta"),  # exact dup of 1
        (3, "common words here gamma delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    auto = _pairset(
        dedup.ngram_jaccard_pairs(df, threshold=0.2, max_shingle_freq=2)
    )
    forced = _pairset(
        dedup.ngram_jaccard_pairs(
            df, threshold=0.2, max_shingle_freq=2, collapse=True
        )
    )
    assert auto == forced
    # and the rep-counted pruning keeps the (1,3) cross pair that
    # raw-doc counting would have pruned away
    assert (1, 3) in {(a, b) for (a, b, *_rest) in auto}


def _cpairs(df):
    return {
        (r.doc_a, r.doc_b): r.containment_per_1000 for r in df.collect()
    }


def test_containment_directed_subset(spark):
    # doc 1 is a strict prefix of doc 0: fully contained one way,
    # only partially the other
    big = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa"
    )
    small = "alpha bravo charlie delta echo foxtrot"
    df = spark.createDataFrame(
        [(0, big), (1, small), (2, "unrelated words entirely here now")],
        "doc_id long, text string",
    )
    got = _cpairs(dedup.containment_pairs(df, n=3, threshold=0.9))
    assert got.get((1, 0)) == 1000  # small ⊆ big
    assert (0, 1) not in got  # big ⊄ small at t=0.9
    assert not any(2 in p for p in got)


def test_containment_collapse_paths_identical(spark, dup_docs):
    forced = _cpairs(
        dedup.containment_pairs(dup_docs, threshold=0.5, collapse=True)
    )
    plain = _cpairs(
        dedup.containment_pairs(dup_docs, threshold=0.5, collapse=False)
    )
    auto = _cpairs(dedup.containment_pairs(dup_docs, threshold=0.5))
    assert forced == plain == auto
    # exact dups (0,1,2 share normalized text) are mutually contained
    for a in (0, 1, 2):
        for b in (0, 1, 2):
            if a != b:
                assert forced[(a, b)] == 1000


def test_containment_vs_naive_all_pairs(spark, dup_docs):
    """Prefix-filtered result == brute-force inverted-index result."""
    from clickhouse_only_importer_prototype_spark.operators.text import (
        shingles,
    )
    from pyspark.sql import functions as F

    sh = shingles(dup_docs, "text", 3)
    sizes = sh.groupBy("doc_id").count()
    naive = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("inter"))
        .join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumn(
            "c1000", F.floor(F.lit(1000) * F.col("inter") / F.col("count"))
        )
        .where(F.col("c1000") >= 300)
    )
    expect = {(r.doc_a, r.doc_b): r.c1000 for r in naive.collect()}
    got = _cpairs(dedup.containment_pairs(dup_docs, threshold=0.3))
    assert got == expect
