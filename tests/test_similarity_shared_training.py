"""Shared-training contract of the fused ANN kernel.

``similarity.ann_topk`` trains each distinct coarse k-means and
codebook set ONCE per call and serves every variant from it (the ANN
evaluation queries share one coarse k-means between ivf and ivfpq).
That is only sound because training is deterministic: identical
(corpus, dim, n_centroids, iters, seed, train_fraction) must yield
bit-identical centroids, and the shared value must yield bit-identical
query results vs a single-variant call. These tests pin both halves.
"""

from __future__ import annotations

import numpy as np
import pytest

from clickhouse_only_importer_prototype_spark.operators import similarity


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_IVF = (16, 2, None)  # train_ann coarse key: n_centroids, iters, fraction
_PQ = (8, 16, 2)  # train_ann pq key: m, n_codes, iters


def test_retraining_is_bit_identical(embeddings):
    a = similarity.train_ann(embeddings, 64, coarse=[_IVF])[0][_IVF]
    b = similarity.train_ann(embeddings, 64, coarse=[_IVF])[0][_IVF]
    assert a.shape == (16, 64)
    assert np.array_equal(a, b)  # bit-exact, not allclose


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _shared(embeddings, q, tag):
    """``tag``'s rows from one kernel call serving ivf and ivfpq off one
    shared coarse k-means (identical training keys)."""
    out = similarity.ann_topk(
        embeddings, q, 64,
        [
            similarity.Variant("ivf", n_centroids=16, nprobe=4),
            similarity.Variant("ivfpq", n_codes=32, shortlist=200, pq_iters=2),
        ],
        k=5,
    )
    return out.where(out.variant == tag).drop("variant")


def test_shared_training_matches_ivf_default_path(embeddings):
    q = embeddings.where("vec_id < 6")
    base = similarity.cosine_topk_ivf(
        embeddings, q, dim=64, k=5, n_centroids=16, nprobe=4
    )
    assert _rows(base) == _rows(_shared(embeddings, q, "ivf"))


def test_shared_training_matches_ivfpq_default_path(embeddings):
    q = embeddings.where("vec_id < 6")
    base = similarity.cosine_topk_ivfpq(embeddings, q, dim=64, k=5)
    assert _rows(base) == _rows(_shared(embeddings, q, "ivfpq"))


def test_n_rows_hint_is_bit_identical(embeddings):
    """The footer row-count hint must be a pure job-elision: same
    sliver, same centroids/codebooks, bit-for-bit."""
    n = embeddings.count()
    a = similarity.train_ann(embeddings, 64, coarse=[_IVF])[0][_IVF]
    b = similarity.train_ann(embeddings, 64, coarse=[_IVF], n_rows=n)[0][_IVF]
    assert np.array_equal(a, b)
    ca = similarity.train_ann(embeddings, 64, pq=[_PQ])[1][_PQ]
    cb = similarity.train_ann(embeddings, 64, pq=[_PQ], n_rows=n)[1][_PQ]
    assert np.array_equal(ca, cb)


def test_prebuilt_variant_ignores_session_training(embeddings, tmp_path):
    """A prebuilt variant serves from its artifact's centroids even
    when the same call trains a coarse k-means in-session."""
    from clickhouse_only_importer_prototype_spark.operators import ann_index

    q = embeddings.where("vec_id < 3")
    path = str(tmp_path / "ivf_idx")
    # built on half the corpus, so its centroids differ from in-session
    ann_index.build_ann_index(
        embeddings.where("vec_id % 2 = 0"), path, "ivf", dim=64
    )
    idx = ann_index.load_ann_index(path)
    session = similarity.train_ann(embeddings, 64, coarse=[_IVF])[0][_IVF]
    assert not np.array_equal(idx.centroids, session)
    both = similarity.ann_topk(
        embeddings, q, 64,
        [
            similarity.Variant("ivf"),
            similarity.Variant("ivf", name="served", prebuilt=idx),
        ],
        k=5,
    )
    served = both.where(both.variant == "served").drop("variant")
    alone = similarity.cosine_topk_ivf(
        embeddings, q, dim=64, k=5, prebuilt=idx
    )
    assert _rows(served) == _rows(alone)
    in_session = both.where(both.variant == "ivf").drop("variant")
    base = similarity.cosine_topk_ivf(embeddings, q, dim=64, k=5)
    assert _rows(in_session) == _rows(base)
