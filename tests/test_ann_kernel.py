"""The fused ANN kernel (operators/similarity.ann_topk).

* Every ANN registry query reproduces ``golden_ann_outputs.json``: the
  sorted rows each query returned before the kernel existed, on the
  ``sf_dir`` fixture tables.
* The evaluators leave no persisted frame behind.
* Edge branches: a query whose probed cells hold nothing but itself, a
  corpus smaller than ``k`` and ``shortlist``, and Arrow batches that
  yield no candidate for a variant keep the output schema and the
  brute-force contract (exact scores, exact ranks).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from clickhouse_only_importer_prototype_spark import queries as registry
from clickhouse_only_importer_prototype_spark.operators import similarity as sim

GOLDEN = os.path.join(os.path.dirname(__file__), "golden_ann_outputs.json")
TOPK_COLS = ["query_id", "neighbor_id", "rank", "cos_1e6"]


def _golden() -> dict:
    with open(GOLDEN, encoding="utf-8") as fh:
        return json.load(fh)["queries"]


@pytest.mark.parametrize("name", sorted(_golden()))
def test_ann_query_matches_golden(spark, sf_dir, name):
    want = _golden()[name]
    df = registry.queries()[name](spark, sf_dir)
    assert df.columns == want["columns"]
    got = sorted(list(r) for r in df.collect())
    assert got == want["rows"]


@pytest.mark.parametrize(
    "name", ["ann_recall_check", "ann_ranking_quality", "ann_prebuilt_equivalence"]
)
def test_ann_evaluators_persist_nothing(spark, sf_dir, name):
    """Build + execute twice: a frame persisted by the evaluator would
    stay in the cache manager and serve every later call. The cache is
    cleared first: an identical plan persisted by an earlier call in
    this session would otherwise be matched, not added again."""
    cached = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731
    fn = registry.queries()[name]
    spark.catalog.clearCache()
    before = cached()
    for _ in range(2):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        assert cached() == before


def _frame(spark, vecs: dict[int, list[float]]):
    return spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<float>"
    )


def _exact(corpus, queries, k):
    return {
        (r.query_id, r.neighbor_id): (r.rank, r.cos_1e6)
        for r in sim.cosine_topk_bruteforce(corpus, queries, k=k).collect()
    }


def _outlier_corpus(spark, n=40):
    """n-1 vectors near e0 plus one at e2 whose id has the smallest
    xxhash64(seed, id): the seeded k-means init always picks it, so
    with 2 centroids it owns a cell alone."""
    first = (
        spark.range(n)
        .select("id", F.xxhash64(F.lit(sim.DEFAULT_SEED), "id").alias("h"))
        .orderBy("h")
        .first()
        .id
    )
    rng = np.random.default_rng(7)
    vecs = {}
    for i in range(n):
        v = np.array([1.0, 0.0, 0.0, 0.0]) + 0.2 * rng.standard_normal(4)
        v[2] = 0.0
        vecs[i] = v.tolist()
    vecs[first] = [0.0, 0.0, 1.0, 0.0]
    return _frame(spark, vecs), first


def test_probed_cells_hold_only_the_query(spark):
    corpus, lone = _outlier_corpus(spark)
    q = corpus.where(F.col("vec_id").isin([lone, 0 if lone else 1]))
    variants = [
        sim.Variant("ivf", n_centroids=2, nprobe=1),
        sim.Variant("ivfpq", n_centroids=2, nprobe=1, m=2, n_codes=4, pq_iters=2),
    ]
    out = sim.ann_topk(corpus, q, 4, variants, k=3)
    assert out.columns == ["variant"] + TOPK_COLS
    rows = out.collect()
    # the lone query's only probed cell holds itself: no candidates
    assert not [r for r in rows if r.query_id == lone]
    exact = _exact(corpus, q, corpus.count())
    for v in ("ivf", "ivfpq"):
        got = [r for r in rows if r.variant == v]
        assert len(got) == 3
        for r in got:
            assert exact[(r.query_id, r.neighbor_id)][1] == r.cos_1e6


def test_corpus_smaller_than_k_and_shortlist(spark):
    rng = np.random.default_rng(3)
    corpus = _frame(spark, {i: rng.standard_normal(4).tolist() for i in range(6)})
    q = corpus.where(F.col("vec_id") < 2)
    variants = [
        # probing every cell / a shortlist past the corpus prunes nothing
        sim.Variant("ivf", n_centroids=2, nprobe=2),
        sim.Variant("pq", m=2, n_codes=4, shortlist=50),
        sim.Variant("ivfpq", n_centroids=2, nprobe=2, m=2, n_codes=4, shortlist=50),
    ]
    out = sim.ann_topk(corpus, q, 4, variants, k=10)
    assert out.columns == ["variant"] + TOPK_COLS
    exact = _exact(corpus, q, 10)
    assert len(exact) == 10  # 5 neighbors per query, fewer than k
    for v in ("ivf", "pq", "ivfpq"):
        got = {
            (r.query_id, r.neighbor_id): (r.rank, r.cos_1e6)
            for r in out.where(F.col("variant") == v).collect()
        }
        assert got == exact, v


def test_batches_without_candidates(spark):
    """One row per partition: most Arrow batches hold no candidate for
    the lone query's cell (nor for LSH buckets that miss); the result
    must not depend on how the corpus is batched."""
    corpus, lone = _outlier_corpus(spark)
    q = corpus.where(F.col("vec_id").isin([lone, 5, 6]))
    variants = [
        sim.Variant("ivf", n_centroids=2, nprobe=1),
        sim.Variant("lsh", n_planes=3, n_tables=2),
        sim.Variant("pq", m=2, n_codes=4, shortlist=3),
        sim.Variant("ivfpq", n_centroids=2, nprobe=1, m=2, n_codes=4, shortlist=3),
    ]
    one = sim.ann_topk(corpus.coalesce(1), q, 4, variants, k=3, corpus_rows=40)
    many = sim.ann_topk(
        corpus.repartition(40, "vec_id"), q, 4, variants, k=3, corpus_rows=40
    )
    assert many.columns == ["variant"] + TOPK_COLS
    a, b = sorted(map(tuple, one.collect())), sorted(map(tuple, many.collect()))
    assert a == b and a
    exact = _exact(corpus, q, 40)
    assert all(exact[(r[1], r[2])][1] == r[4] for r in a)


def test_shared_sliver_matches_per_trainer_training(spark):
    """Different sliver sizes (ivf 2x256, pq 8x256 of 3000 rows) come
    from one collect; each must equal its own trainer's result."""
    rng = np.random.default_rng(11)
    corpus = _frame(
        spark, {i: rng.standard_normal(8).tolist() for i in range(3000)}
    )
    cents, books = sim.train_ann(
        corpus, 8, coarse=[(2, 2, None)], pq=[(2, 8, 3)], n_rows=3000
    )
    assert np.array_equal(
        cents[(2, 2, None)],
        sim.train_ann(corpus, 8, coarse=[(2, 2, None)])[0][(2, 2, None)],
    )
    assert np.array_equal(
        books[(2, 8, 3)], sim.train_ann(corpus, 8, pq=[(2, 8, 3)])[1][(2, 8, 3)]
    )


def test_variant_validation(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="unique"):
        sim.ann_topk(emb, q, 64, [sim.Variant("ivf"), sim.Variant("ivf")])
    with pytest.raises(ValueError, match="one or more"):
        sim.ann_topk(emb, q, 64, [])
    with pytest.raises(ValueError, match="kind must be one of"):
        sim.ann_topk(emb, q, 64, [sim.Variant("hnsw")])
