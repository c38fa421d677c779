"""Similarity-search tests: brute-force correctness, LSH recall."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from clickhouse_only_importer_prototype_spark.operators import similarity


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _numpy_topk(vecs: dict[int, np.ndarray], qid: int, k: int):
    q = vecs[qid]
    scores = []
    for nid, v in vecs.items():
        if nid == qid:
            continue
        cos = float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
        scores.append((int(np.floor(cos * 1e6)), nid))
    scores.sort(key=lambda t: (-t[0], t[1]))
    return [nid for _, nid in scores[:k]]


def test_bruteforce_matches_numpy(spark, embeddings):
    sample = embeddings.limit(60)
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in sample.collect()
    }
    queries = sample.where("vec_id < 3")
    out = similarity.cosine_topk_bruteforce(sample, queries, k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for qid in got:
        ordered = [nid for _, nid in sorted(got[qid])]
        assert ordered == _numpy_topk(vecs, qid, 5), f"query {qid}"


def test_lsh_recall_against_bruteforce(spark, embeddings):
    corpus = embeddings
    queries = embeddings.where("vec_id < 10")
    exact = similarity.cosine_topk_bruteforce(corpus, queries, k=5)
    # testdata embeddings are near-random (top-5 cos ~0.32): weak
    # neighbors need few planes + many tables for collision probability
    approx = similarity.cosine_topk_lsh(
        corpus, queries, dim=64, k=5, n_planes=4, n_tables=16
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_lsh_deterministic(spark, embeddings):
    queries = embeddings.where("vec_id < 3")
    a = sorted(map(tuple, similarity.cosine_topk_lsh(embeddings, queries, dim=64).collect()))
    b = sorted(map(tuple, similarity.cosine_topk_lsh(embeddings, queries, dim=64).collect()))
    assert a == b


def test_neardup_pairs_symmetric_free(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_neardup_pairs(df, threshold_1e6=990000).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(0, 1)}


def test_ivf_recall_against_bruteforce(spark, embeddings):
    queries = embeddings.where("vec_id < 10")
    exact = similarity.cosine_topk_bruteforce(embeddings, queries, k=5)
    # near-random vectors cluster weakly: probe half the cells for a
    # stable recall floor (real embedding corpora cluster far better)
    approx = similarity.cosine_topk_ivf(
        embeddings, queries, dim=64, k=5, n_centroids=16, nprobe=8
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_deterministic_and_exact_scores(spark, embeddings):
    queries = embeddings.where("vec_id < 3")
    a = similarity.cosine_topk_ivf(
        embeddings, queries, dim=64, k=5, n_centroids=8, nprobe=4
    ).collect()
    b = similarity.cosine_topk_ivf(
        embeddings, queries, dim=64, k=5, n_centroids=8, nprobe=4
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every returned score must equal the exact cosine for that pair
    exact = {
        (r.query_id, r.neighbor_id): r.cos_1e6
        for r in similarity.cosine_topk_bruteforce(
            embeddings, queries, k=embeddings.count()
        ).collect()
    }
    for r in a:
        assert exact[(r.query_id, r.neighbor_id)] == r.cos_1e6


def test_ivf_sampled_training_deterministic(spark, embeddings):
    queries = embeddings.where("vec_id < 5")
    kw = dict(dim=64, k=5, n_centroids=8, nprobe=4, train_fraction=0.5)
    a = similarity.cosine_topk_ivf(embeddings, queries, **kw).collect()
    b = similarity.cosine_topk_ivf(embeddings, queries, **kw).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 25  # 5 queries x top-5


def test_lloyd_driver_matches_distributed(spark, embeddings):
    """The bounded-sliver driver path and the distributed path are the
    same Lloyd algorithm: identical init (xxhash order), identical
    stable tie-breaks, so centroids agree to float-sum associativity
    (pinned tight: the driver path sums members in sorted-id order)."""
    import numpy as np
    from pyspark.sql import functions as F

    tr = embeddings.select(
        F.col("vec_id").alias("i"),
        F.col("embedding").cast("array<double>").alias("v"),
        F.xxhash64(F.lit(42), F.col("vec_id")).alias("h"),
    )
    a = similarity._lloyd_driver(tr.collect(), 64, 8, 2)
    b = similarity._lloyd_distributed(tr, 64, 8, 2)
    assert np.allclose(a, b, atol=1e-9)


def test_ivf_sampled_training_recall(spark, embeddings):
    # pins the recall of the shipped query configuration
    # (queries.ann_cosine_topk_ivf auto-sizes its training sliver)
    queries = embeddings.where("vec_id < 10")
    exact = similarity.cosine_topk_bruteforce(embeddings, queries, k=5)
    approx = similarity.cosine_topk_ivf(
        embeddings, queries, dim=64, k=5, n_centroids=16, nprobe=8,
        train_fraction=0.5,
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"sampled-training IVF recall too low: {recall}"


def test_ivf_train_fraction_validation(spark, embeddings):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="train_fraction"):
        similarity.train_ann(embeddings, 64, coarse=[(16, 2, 0.0)])
    with _pytest.raises(ValueError, match="training vectors"):
        similarity.train_ann(embeddings.limit(4), 64, coarse=[(16, 2, None)])


def test_quantize_embeddings_preserves_cosine(spark, embeddings):
    """int8 quantization: values bounded to [-127, 127], scale correct,
    and dequantized cosine within ~2% of the float cosine."""
    import numpy as np

    raw = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in embeddings.limit(50).collect()}
    got = {
        r.vec_id: (r.scale_1e9, np.array(r.q, dtype=np.int64))
        for r in similarity.quantize_embeddings(embeddings.limit(50)).collect()
    }
    assert set(got) == set(raw)
    ids = sorted(raw)
    for i in ids:
        scale_1e9, q = got[i]
        assert q.min() >= -127 and q.max() <= 127
        maxabs = np.abs(raw[i]).max()
        if maxabs > 0:
            assert abs(scale_1e9 - np.floor(maxabs * 1e9)) <= 1
    # cosine preservation on a few pairs
    for a, b in [(ids[0], ids[1]), (ids[2], ids[3]), (ids[4], ids[5])]:
        ea, eb = raw[a], raw[b]
        if not ea.any() or not eb.any():
            continue
        cos_f = ea @ eb / (np.linalg.norm(ea) * np.linalg.norm(eb))
        qa = got[a][1].astype(np.float64)
        qb = got[b][1].astype(np.float64)
        cos_q = qa @ qb / (np.linalg.norm(qa) * np.linalg.norm(qb))
        assert abs(cos_f - cos_q) < 0.02, (a, b, cos_f, cos_q)


def test_topk_recall_floor_semantics(spark, embeddings):
    from clickhouse_only_importer_prototype_spark.operators.similarity import (
        cosine_topk_bruteforce,
        topk_recall_floors,
    )

    q = embeddings.where(F.col("vec_id") < 5)
    truth = cosine_topk_bruteforce(embeddings, q, k=3)
    # perfect recall against itself; impossible floor flips the bit
    self_tagged = truth.withColumn("variant", F.lit("self"))
    row = topk_recall_floors(truth, self_tagged, {"self": 1000}).first()
    assert row.variant == "self" and row.meets_floor
    assert row.truth_pairs == truth.count()
    none = truth.limit(0).withColumn("variant", F.lit("none"))
    assert not topk_recall_floors(truth, none, {"none": 1}).first().meets_floor


def test_kmeans_int_separable_clusters(spark):
    from clickhouse_only_importer_prototype_spark.operators.similarity import (
        kmeans_assign_int,
    )

    # two tight blobs far apart; k=2 must split them exactly
    blob_a = [(i, [0.9, 0.9 + i * 1e-4]) for i in range(4)]
    blob_b = [(10 + i, [-0.9, -0.9 - i * 1e-4]) for i in range(4)]
    df = spark.createDataFrame(
        blob_a + blob_b, "vec_id: long, embedding: array<float>"
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign_int(df, k=2, iters=2).collect()
    }
    # init = two smallest ids (0, 1) — both in blob A; after the first
    # update one centroid absorbs blob B, so the split is clean
    a = {got[i] for i in range(4)}
    b = {got[10 + i] for i in range(4)}
    assert len(a) == 1 and len(b) == 1 and a != b


def test_kmeans_int_tie_breaks_to_lowest_cluster(spark):
    from clickhouse_only_importer_prototype_spark.operators.similarity import (
        kmeans_assign_int,
    )

    # identical points: every cost ties -> everything joins cluster 0,
    # cluster 1 empties out and is dropped; assignments stay cluster 0
    df = spark.createDataFrame(
        [(i, [0.5, 0.5]) for i in range(5)],
        "vec_id: long, embedding: array<float>",
    )
    got = {r["cluster"] for r in kmeans_assign_int(df, k=2, iters=1).collect()}
    assert got == {0}


def test_kmeans_int_validates(spark):
    from clickhouse_only_importer_prototype_spark.operators.similarity import (
        kmeans_assign_int,
    )

    df = spark.createDataFrame(
        [(0, [0.1])], "vec_id: long, embedding: array<float>"
    )
    with pytest.raises(ValueError):
        kmeans_assign_int(df, k=2, iters=1)
    with pytest.raises(ValueError):
        kmeans_assign_int(df, k=1, iters=-1)


def test_grouped_neardup_matches_bruteforce(spark):
    """Panel prefilter + exact rescore == naive within-group pairs."""
    import itertools
    import math

    from clickhouse_only_importer_prototype_spark.operators import (
        similarity as sim,
    )

    rows = []
    for i in range(40):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        vec = [
            base[d] + 0.05 * ((i * 7 + d * 3) % 5 - 2) for d in range(4)
        ]
        rows.append((i, i % 3, vec))
    df = spark.createDataFrame(
        rows, "vec_id long, cluster long, embedding array<double>"
    )
    got = {
        (r.doc_a, r.doc_b): r.cos_1e6
        for r in sim.grouped_neardup_pairs(
            df, "cluster", threshold_1e6=900000
        ).collect()
    }

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        return d / (
            math.sqrt(sum(x * x for x in u)) * math.sqrt(sum(x * x for x in v))
        )

    expect = {}
    for (ia, ga, va), (ib, gb, vb) in itertools.combinations(rows, 2):
        if ga == gb:
            c = math.floor(1e6 * cos(va, vb))
            if c >= 900000:
                expect[(min(ia, ib), max(ia, ib))] = c
    assert set(got) == set(expect)
    # exact rescore: integer cosines match a float reference within
    # 1 ulp of the 1e6 scaling
    assert all(abs(got[k] - expect[k]) <= 1 for k in got)


def test_topk_ranking_quality_exact_self_is_perfect(spark):
    # approx == truth -> MRR = 1.0 and NDCG = 1.0; floors at 1000 pass
    from clickhouse_only_importer_prototype_spark.operators.similarity import (
        topk_ranking_floors,
    )

    truth = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (1, 12, 1), (1, 13, 2)],
        "query_id long, neighbor_id long, rank long",
    )
    row = topk_ranking_floors(
        truth, truth.withColumn("variant", F.lit("self")), 2,
        {"self": (1000, 1000)},
    ).collect()[0]
    assert row.n_queries == 2
    assert row.meets_mrr_floor and row.meets_ndcg_floor


def test_topk_ranking_quality_reversed_list_fails_ndcg_only(spark):
    from clickhouse_only_importer_prototype_spark.operators.similarity import (
        topk_ranking_floors,
    )

    truth = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, neighbor_id long, rank long",
    )
    # same set, reversed order: recall would be 1.0; first true hit at
    # rank 1 still (set identical) so MRR=1.0, but DCG weights shift.
    # Make rank-1 a MISS to drop MRR too: neighbor 99 not in truth.
    approx = spark.createDataFrame(
        [(0, 99, 1), (0, 12, 2), (0, 11, 3)],
        "query_id long, neighbor_id long, rank long",
    )
    row = topk_ranking_floors(
        truth, approx.withColumn("variant", F.lit("adv")), 3,
        {"adv": (600, 900)},
    ).collect()[0]
    # first hit at rank 2 -> MRR = 0.5 < 0.6; dcg = w2+w3 < 0.9*idcg
    assert not row.meets_mrr_floor
    assert not row.meets_ndcg_floor


def test_topk_ranking_quality_zero_hit_query_counts_as_zero(spark):
    from clickhouse_only_importer_prototype_spark.operators.similarity import (
        topk_ranking_floors,
    )

    truth = spark.createDataFrame(
        [(0, 10, 1), (1, 20, 1)],
        "query_id long, neighbor_id long, rank long",
    )
    approx = spark.createDataFrame(
        [(0, 10, 1), (1, 99, 1)],
        "query_id long, neighbor_id long, rank long",
    )
    # q0 perfect, q1 nothing -> mean MRR = 0.5 exactly; floor 500 passes,
    # floor 501 fails (integer div, no drift)
    ok = topk_ranking_floors(
        truth, approx.withColumn("variant", F.lit("half")), 1,
        {"half": (500, 500)},
    ).collect()[0]
    bad = topk_ranking_floors(
        truth, approx.withColumn("variant", F.lit("half")), 1,
        {"half": (501, 501)},
    ).collect()[0]
    assert ok.meets_mrr_floor and ok.meets_ndcg_floor
    assert not bad.meets_mrr_floor and not bad.meets_ndcg_floor


def test_embedding_neardup_collapse_equivalence(spark):
    # heavy verbatim duplication: 8 distinct vectors x 6 copies each —
    # the probe must fire, and the collapsed output must equal the
    # uncollapsed blocked-matmul output exactly (values included)
    rows = []
    for i in range(8):
        vec = [float((i * 13 + d * 7) % 11 - 5) for d in range(6)]
        for c in range(6):
            rows.append((i * 100 + c, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert similarity._has_exact_dup_vecs(df, "embedding") is True
    on = sorted(
        map(
            tuple,
            similarity.embedding_neardup_pairs(
                df, threshold_1e6=500000, collapse=True
            ).collect(),
        )
    )
    off = sorted(
        map(
            tuple,
            similarity.embedding_neardup_pairs(
                df, threshold_1e6=500000, collapse=False
            ).collect(),
        )
    )
    assert on == off and len(on) > 0
    # every 6-copy group contributes its 15 within pairs at cos ~1
    assert sum(1 for a, b, c in on if a // 100 == b // 100) == 8 * 15


def test_embedding_neardup_collapse_probe_negative(spark):
    rows = [(i, [float(i), 1.0, float(i % 3)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert similarity._has_exact_dup_vecs(df, "embedding") is False


def test_grouped_neardup_collapse_equivalence(spark):
    # duplicates both WITHIN a group and ACROSS groups: the cross-group
    # copies must never pair (fingerprint groups are keyed by group)
    rows = []
    for i in range(6):
        vec = [float((i * 5 + d * 3) % 7 - 3) for d in range(4)]
        for c in range(5):
            rows.append((i * 100 + c, (i + c) % 2, vec))
    df = spark.createDataFrame(
        rows, "vec_id long, grp long, embedding array<float>"
    )
    on = sorted(
        map(
            tuple,
            similarity.grouped_neardup_pairs(
                df, "grp", threshold_1e6=400000, collapse=True
            ).collect(),
        )
    )
    off = sorted(
        map(
            tuple,
            similarity.grouped_neardup_pairs(
                df, "grp", threshold_1e6=400000, collapse=False
            ).collect(),
        )
    )
    assert on == off and len(on) > 0
    assert all(len(t) == 4 for t in on)


def test_kmeans_collapse_equivalence(spark):
    # 12 distinct vectors x 5 copies: weighted distinct-q Lloyd must
    # reproduce the full-corpus run bit-for-bit (weighted floor-mean
    # decomposition is exact), including init ids that are non-rep
    # duplicates of an earlier row
    rows = []
    for i in range(12):
        vec = [float((i * 3 + d * 5) % 9 - 4) / 3.0 for d in range(5)]
        for c in range(5):
            rows.append((i + 12 * c, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    on = dict(
        (r.vec_id, r.cluster)
        for r in similarity.kmeans_assign_int(
            df, k=4, iters=2, collapse=True
        ).collect()
    )
    off = dict(
        (r.vec_id, r.cluster)
        for r in similarity.kmeans_assign_int(
            df, k=4, iters=2, collapse=False
        ).collect()
    )
    assert on == off and len(on) == 60


def test_pq_topk_recall_and_determinism(spark, sf_dir):
    """PQ ADC + exact-rescore: recall@5 vs brute force must clear the
    gate floor (0.6; measured 0.90-1.0 at sf0.01/sf0.1), codes and
    final rankings must be identical across runs (codebook init is a
    value-keyed xxhash draw, ADC sums run in fixed subspace order, all
    ties break on ids), and encode output must be one code per
    subspace within range."""
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.operators import (
        similarity as sim,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    truth = sim.cosine_topk_bruteforce(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    pq = sim.cosine_topk_pq(
        emb, q, dim=64, k=5, m=8, n_codes=32, shortlist=200
    )
    got = pq.select("query_id", "neighbor_id")
    tot = truth.count()
    hit = truth.join(got, ["query_id", "neighbor_id"]).count()
    assert tot > 0 and hit / tot >= 0.6
    again = sim.cosine_topk_pq(
        emb, q, dim=64, k=5, m=8, n_codes=32, shortlist=200
    )
    assert sorted(map(tuple, pq.collect())) == sorted(
        map(tuple, again.collect())
    )
    key = (8, 32, 3)  # train_ann pq key: m, n_codes, iters
    cb = sim.train_ann(emb, 64, pq=[key])[1][key]
    assert cb.shape == (8, 32, 8)
    mat = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    codes = sim._pq_codes(mat, cb)
    assert all(
        len(r) == 8 and all(0 <= c < 32 for c in r)
        for r in codes
    )


def test_pq_full_shortlist_equals_bruteforce(spark, sf_dir):
    """Identity pin for the PQ pipeline: when the shortlist covers the
    whole corpus, the ADC stage prunes nothing and the exact-cosine
    rescore must reproduce cosine_topk_bruteforce row-for-row — any
    defect in code assignment, LUT summation, shortlist selection, or
    the rescore join would break the equality."""
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.operators import (
        similarity as sim,
    )

    # deterministic subset, NOT .limit(200): an unordered limit is
    # re-evaluated per job (brute collect, codebook training, encode
    # scan, rescore join) and Spark does not guarantee a stable row
    # subset across jobs on multi-partition input
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < 200
    )
    q = emb.where(F.col("vec_id") < 5)
    brute = sim.cosine_topk_bruteforce(emb, q, k=5)
    pq = sim.cosine_topk_pq(
        emb, q, dim=64, k=5, m=8, n_codes=16, shortlist=200
    )
    assert sorted(map(tuple, brute.collect())) == sorted(
        map(tuple, pq.collect())
    )


def test_ivfpq_recall_floor_and_determinism(spark, sf_dir):
    """IVF-PQ composition: recall@5 must clear the gate floor (0.45;
    measured 0.54-0.58 — the coarse prune dominates, matching
    standalone IVF), results identical across runs, and every
    candidate honors the inverted-list prune (each returned neighbor's
    cell is among its query's probed cells)."""
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.operators import (
        similarity as sim,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    truth = sim.cosine_topk_bruteforce(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    got = sim.cosine_topk_ivfpq(emb, q, dim=64, k=5)
    tot = truth.count()
    hit = truth.join(
        got.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    assert tot > 0 and hit / tot >= 0.45
    again = sim.cosine_topk_ivfpq(emb, q, dim=64, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, again.collect())
    )
    # inverted-list prune honored: neighbor cell in query's probe set
    cents = sim.train_ann(emb, 64, coarse=[(16, 2, None)])[0][(16, 2, None)]
    assign = sim._ivf_probe_udf(cents, 1)
    probe = sim._ivf_probe_udf(cents, 4)
    cells = {
        r.vec_id: r.cell
        for r in emb.select(
            "vec_id", assign(F.col("embedding"))[0].alias("cell")
        ).collect()
    }
    probes = {
        r.vec_id: set(r.cells)
        for r in q.select(
            "vec_id", probe(F.col("embedding")).alias("cells")
        ).collect()
    }
    for r in got.collect():
        assert cells[r.neighbor_id] in probes[r.query_id]
