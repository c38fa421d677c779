"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline: the (small)
query set is broadcast against the corpus scan, dot products run
JVM-side as one ``aggregate``/``zip_with`` fold over double arrays —
deterministic left-to-right accumulation that DuckDB's
list_inner_product reproduces exactly — and a per-query window keeps
the top k.

Four approximate variants trade recall for pruning: SRP-LSH (seeded
random planes, no training), IVF (spherical k-means cells, nprobe
probed per query), PQ (per-subspace codebooks, ADC shortlist over
codes only) and IVF-PQ (both). One kernel, ``ann_topk``, serves any
set of them from one value trained per call:
  * training — one collect of the widest xxhash training sliver; each
    coarse k-means and codebook set takes its own sliver from it on
    the driver (``train_ann``); a prebuilt ``ann_index`` artifact
    supplies the same value without training;
  * queries — one collect; probe cells, LSH buckets and PQ lookup
    tables are computed on the driver;
  * candidates — one fused ``mapInPandas`` pass over the corpus (and
    any prebuilt codes table) emits tagged (variant, query, neighbor,
    adc) rows for every variant, then one shortlist window for the ADC
    variants;
  * one exact rescore and top-k window partitioned by (variant,
    query_id), the same tail brute force uses.
The single-variant functions (``cosine_topk_ivf`` ...) are the kernel
with one variant. Nothing is persisted between calls.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType, LongType

DEFAULT_SEED = 42
# Training-sliver rows per centroid or PQ code (sizing in train_ann).
TRAIN_POINTS_PER_CENTROID = 256


def dot(a: str, b: str) -> Column:
    """JVM-side dot product of two array<double> SQL expressions (column
    names or expressions). One SQL string is one parse on the JVM, where
    the lambda form costs a py4j round-trip per sub-expression."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, "
        "(acc, x) -> acc + x)"
    )


def norm(a: str) -> Column:
    return F.expr(f"sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))")


def _cos_1e6(a: str, b: str) -> Column:
    """floor(1e6 * cos(a, b)) as long — the exact score of every cosine
    output, hashed identically by the DuckDB oracles."""
    cos = dot(a, b) / (norm(a) * norm(b))
    return F.floor(cos * F.lit(1000000.0)).cast("long")


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _check_prebuilt_dim(prebuilt, dim: int) -> None:
    """A prebuilt artifact pins dim at build time; the caller-passed
    ``dim`` drives subspace slicing and LUT shapes, so a mismatch is
    wrong answers (or an opaque numpy shape error), never a graceful
    degrade — refuse loudly like the kind/centroids/codebooks checks."""
    if int(prebuilt.dim) != int(dim):
        raise ValueError(
            f"prebuilt index was built with dim={prebuilt.dim}; serving "
            f"called with dim={dim} — rebuild the index or pass the "
            "artifact's dim"
        )


def quantize_embeddings(
    df: DataFrame, emb_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization per vector: (id, scale_1e9, q
    array<int>) with q_i = floor(127 * e_i / max|e|).

    The embedding storage format of every large retrieval corpus —
    4x smaller than float32, and cosine survives within ~1% for
    typical distributions (pinned in tests). Per-VECTOR max-abs scaling
    (not per-corpus) keeps outlier vectors from crushing everyone
    else's resolution; the scale rides along int-scaled (floor(s*1e9))
    so the record stays fully integral and cross-engine hashable.

    floor (not round) on purpose: round's tie-breaking differs across
    engines (HALF_UP / half-even / away-from-zero) and a single tie
    breaks a value hash; floor of identical IEEE doubles is identical
    everywhere. All JVM expression work — a pure projection over the
    scan, embarrassingly parallel at any scale.
    """
    e = _as_double(emb_col)
    max_abs = F.array_max(F.transform(e, lambda x: F.abs(x)))
    # stage the scale as a column: referenced inside the quantize lambda,
    # an inline expression would re-run the O(dim) max per ELEMENT (the
    # HOF trap, see operators/text.py)
    staged = df.select(
        F.col(id_col),
        e.alias("__e"),
        F.when(max_abs == 0.0, F.lit(1.0)).otherwise(max_abs).alias("__scale"),
    )
    return staged.select(
        F.col(id_col),
        F.floor(F.col("__scale") * 1e9).cast("long").alias("scale_1e9"),
        F.transform(
            F.col("__e"),
            lambda x: F.floor(F.lit(127.0) * x / F.col("__scale")).cast("int"),
        ).alias("q"),
    )


def _topk(
    pairs: DataFrame, k: int, keys: tuple[str, ...] = ("query_id",)
) -> DataFrame:
    """The exact tail every cosine top-k shares: score (keys...,
    neighbor_id, qv, cv) pairs with ``_cos_1e6`` and keep the top k per
    ``keys`` (ties break on neighbor id) -> (keys..., neighbor_id,
    rank, cos_1e6)."""
    scored = pairs.select(
        *keys, "neighbor_id", _cos_1e6("qv", "cv").alias("cos_1e6")
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("cos_1e6").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(*keys, "neighbor_id", "rank", "cos_1e6")
    )


def _query_vectors(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )


def _corpus_vectors(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos_1e6).

    ``queries`` is broadcast — the corpus streams through one narrow
    stage; the only shuffle is the per-query top-k window, partitioned
    by query id (parallel across queries). Self-matches excluded.
    Scores are emitted as int64 micro-units (floor(cos * 1e6)) so the
    DuckDB oracle hashes identically; ties break on neighbor id.
    """
    pairs = (
        _corpus_vectors(corpus, id_col, vec_col)
        .join(F.broadcast(_query_vectors(queries, id_col, vec_col)))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    return _topk(pairs, k)


def srp_planes(dim: int, n_planes: int, table: int, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Deterministic signed-random-projection planes for one LSH table."""
    rng = np.random.default_rng(seed + 7919 * table)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


# The numpy kernels below are the ONE implementation of each per-vector
# computation: the Arrow UDFs (index build, incremental encode), the
# fused candidate pass and the driver-side query state all call them,
# so stored, in-session and query-side values agree bit for bit. They
# take the stored vector dtype (float32 here) as the UDFs receive it.


def _probe_cells(
    mat: np.ndarray, cents: np.ndarray, nprobe: int
) -> np.ndarray:
    """(rows, nprobe) ids of the nearest row-normalized centroids; the
    stable sort on -sim breaks ties on centroid id."""
    sims = _normalize_rows(mat.astype(np.float64)) @ cents.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]


def _srp_codes(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(rows, tables) SRP bucket ids for ``planes`` (tables, n_planes,
    dim): one matmul against every table's planes at once."""
    n_tables, n_planes, _ = planes.shape
    flat = planes.reshape(n_tables * n_planes, -1)
    bits = (mat @ flat.T > 0).reshape(len(mat), n_tables, n_planes)
    return bits.astype(np.int64) @ (1 << np.arange(n_planes, dtype=np.int64))


def _ivf_probe_udf(centroids: np.ndarray, nprobe: int):
    """array<long> of the nprobe nearest centroid ids per vector (one
    matmul per arrow batch). centroids must be row-normalized."""

    @pandas_udf(ArrayType(LongType()))
    def probes(vecs: pd.Series) -> pd.Series:
        return pd.Series(
            list(_probe_cells(np.stack(vecs.to_numpy()), centroids, nprobe))
        )

    return probes


def _sliver(
    df: DataFrame, bound: int, seed: int, id_col: str, vec_col: str
) -> DataFrame:
    """The deterministic training sliver: rows whose xxhash64(seed+1, id)
    draw ``s`` falls under ``bound`` (of 2^30) — stable across
    partitionings and retries, unlike ``df.sample`` — with ``h``, the
    init-order hash."""
    s = F.pmod(F.xxhash64(F.lit(seed + 1), F.col(id_col)), F.lit(1 << 30))
    return df.where(s < bound).select(
        F.col(id_col).alias("i"),
        _as_double(vec_col).alias("v"),
        F.xxhash64(F.lit(seed), F.col(id_col)).alias("h"),
        s.alias("s"),
    )


def _sliver_bound(fraction: float) -> int:
    return int(fraction * (1 << 30)) if fraction < 1.0 else 1 << 30


def train_ann(
    df: DataFrame,
    dim: int,
    coarse=(),
    pq=(),
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> tuple[dict, dict]:
    """Train every requested coarse k-means and PQ codebook set from ONE
    collect: ``coarse`` holds (n_centroids, iters, train_fraction) keys,
    ``pq`` holds (m, n_codes, iters) keys; returns ({key: centroids},
    {key: codebooks}).

    Sizing: quality needs ~100-1000 points per centroid, not the
    corpus, so each trainer reads a sliver of ``n_centroids`` (or
    ``n_codes``) x ``TRAIN_POINTS_PER_CENTROID`` rows (an explicit
    ``train_fraction`` overrides a coarse one). Slivers are nested
    thresholds of one xxhash draw: the widest is collected once and
    each trainer keeps its own rows on the driver. A coarse sliver too
    large for the driver (explicit fractions only) trains distributed.

    ``n_rows``: exact row count of ``df`` when the caller knows it
    (parquet footer of an unfiltered scan) — skips the count job. It
    sizes the slivers, so it must be exact or None.
    """
    for _, _, frac in coarse:
        if frac is not None and not 0.0 < frac <= 1.0:
            raise ValueError(f"train_fraction must be in (0, 1]: {frac}")
    for m, _, _ in pq:
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m {m}")
    cents: dict = {}
    books: dict = {}
    if not coarse and not pq:
        return cents, books
    n = df.count() if n_rows is None else n_rows
    bounds = {}
    for key in coarse:
        n_cent, iters, frac = key
        target = n_cent * TRAIN_POINTS_PER_CENTROID
        if frac is None:
            frac = 1.0 if n <= target else target / n
        if int(frac * n) > max(4 * target, 65536):
            train = _sliver(df, _sliver_bound(frac), seed, id_col, vec_col)
            cents[key] = _lloyd_distributed(train, dim, n_cent, iters)
        else:
            bounds[("coarse", key)] = _sliver_bound(frac)
    for key in pq:
        target = key[1] * TRAIN_POINTS_PER_CENTROID
        bounds[("pq", key)] = _sliver_bound(1.0 if n <= target else target / n)
    if bounds:
        widest = max(bounds.values())
        rows = _sliver(df, widest, seed, id_col, vec_col).collect()
        for (what, key), bound in bounds.items():
            sub = [r for r in rows if r["s"] < bound]
            if what == "coarse":
                cents[key] = _lloyd_driver(sub, dim, key[0], key[1])
            else:
                books[key] = _pq_codebooks(sub, dim, *key)
    return cents, books


def _lloyd_driver(
    rows: list, dim: int, n_centroids: int, iters: int
) -> np.ndarray:
    """Lloyd iterations over the COLLECTED training sliver — numpy on
    the driver. The sliver is bounded by construction (~points-per-
    centroid x centroids vectors, ~2 MB at the defaults, independent of
    corpus size), so this is sketch-sized driver state, not a corpus
    collect: the same shape as Misra-Gries rescoring. Versus running
    each Lloyd pass as Spark jobs this removes ~3 jobs/iteration of
    pure fixed overhead (pandas-UDF stage launch + shuffle of C x dim
    cells) — at bench scale that overhead WAS the training time
    (round-4 verdict #4: 7.4x regression, root-caused to exactly this).
    Rows are sorted by id for a partitioning-independent sum order.
    """
    if len(rows) < n_centroids:
        raise ValueError(
            f"need >= {n_centroids} training vectors, got {len(rows)} "
            "(train_fraction too small for this corpus?)"
        )
    rows = sorted(rows, key=lambda r: r["i"])
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    order = sorted(range(len(rows)), key=lambda k: (rows[k]["h"], rows[k]["i"]))
    cents = _normalize_rows(mat[order[:n_centroids]].copy())
    normed = _normalize_rows(mat.copy())
    for _ in range(iters):
        sims = normed @ cents.T
        # stable argsort => ties break on centroid id, matching the UDF
        clusters = np.argsort(-sims, axis=1, kind="stable")[:, 0]
        new = cents.copy()  # empty clusters keep their old centroid
        for c in range(n_centroids):
            members = mat[clusters == c]
            if len(members):
                new[c] = members.sum(axis=0) / len(members)
        cents = _normalize_rows(new)
    return cents


def _lloyd_distributed(
    train: DataFrame, dim: int, n_centroids: int, iters: int
) -> np.ndarray:
    """Distributed Lloyd for explicitly-oversized training fractions:
    each iteration is one assignment pass (arrow UDF matmul) + one
    (cluster, dim-position) sum/count aggregation; only C x dim cells
    ever reach the driver regardless of training-set size."""
    train = train.persist()
    try:
        init = train.orderBy("h", "i").limit(n_centroids).collect()
        if len(init) < n_centroids:
            raise ValueError(
                f"need >= {n_centroids} training vectors, got {len(init)} "
                "(train_fraction too small for this corpus?)"
            )
        cents = _normalize_rows(
            np.array([r["v"] for r in init], dtype=np.float64)
        )
        for _ in range(iters):
            assign = _ivf_probe_udf(cents, 1)
            assigned = train.select(
                assign(F.col("v"))[0].alias("cluster"), "v"
            )
            cells = (
                assigned.select(
                    "cluster", F.posexplode("v").alias("pos", "x")
                )
                .groupBy("cluster", "pos")
                .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
                .collect()
            )
            new = cents.copy()  # empty clusters keep their old centroid
            sums = np.zeros((len(cents), dim))
            counts = np.zeros(len(cents))
            for r in cells:
                sums[r["cluster"], r["pos"]] = r["s"]
                counts[r["cluster"]] = r["n"]
            nonempty = counts > 0
            new[nonempty] = sums[nonempty] / counts[nonempty, None]
            cents = _normalize_rows(new)
    finally:
        train.unpersist()
    return cents


#: Minimum exact-duplicate fraction at which the embedding
#: representative collapse pays for its groupBy + expansion joins —
#: the same measured break-even philosophy as the text family's
#: ``dedup._COLLAPSE_MIN_DUP_FRAC`` (see that docstring for why the
#: gate is a ratio, not existence).
_VEC_COLLAPSE_MIN_DUP_FRAC = 0.05


def _vec_fp(vec_col: str) -> Column:
    """128-bit JVM-side fingerprint of the RAW stored vector: two
    independently-seeded xxhash64 passes over the array column. A
    single 64-bit hash risks a silent merge of two different vectors
    at billion-row scale; two seeds put collisions past 2^-90 for any
    realistic corpus. Hashing the stored column (not the double cast)
    keeps the whole fingerprint inside whole-stage codegen."""
    v = F.col(vec_col)
    return F.struct(
        F.xxhash64(F.lit(1), v).alias("h1"),
        F.xxhash64(F.lit(2), v).alias("h2"),
    )


def _has_exact_dup_vecs(df: DataFrame, vec_col: str) -> bool:
    """ONE cheap aggregate probing whether the embedding corpus
    carries enough bitwise-identical vectors for the representative
    collapse to pay off: count vs approx-count-distinct of the vector
    fingerprint (map-side HLL partials, one row to the driver).

    Identical vectors are what make the blocked-matmul panels blow up
    quadratically — a 100-copy group contributes 100x rows to its
    panel and 4950 all-verify pairs — so the collapse trades one
    groupBy + slim expansion joins for matmul work that grows with
    the SQUARE of the dup multiplicity. Skipping is exactly lossless
    (identical vectors land in the same xxhash block / cluster and
    pair at cos=1 anyway); the gate only decides cost, mirroring
    ``dedup._has_exact_dups``."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(_vec_fp(vec_col), rsd=0.02).alias("d"),
    ).first()
    n, d = (r["n"] or 0), (r["d"] or 0)
    return n > 0 and (n - d) >= _VEC_COLLAPSE_MIN_DUP_FRAC * n


def _vec_groups(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, rep): every row mapped to the min id sharing its vector
    fingerprint — the embedding twin of ``dedup._exact_groups``.
    groupBy-then-join rather than min().over(): the aggregate gets
    map-side partial combine so the shuffle carries the dup histogram,
    not the corpus (same argument as the text family)."""
    keyed = df.select(
        F.col(id_col).alias("id"), _vec_fp(vec_col).alias("__fp")
    )
    mins = keyed.groupBy("__fp").agg(F.min("id").alias("rep"))
    return keyed.join(mins, "__fp").select("id", "rep")


def _self_cos_1e6(vec_col: str) -> Column:
    """floor(1e6 * cos(v, v)) with the EXACT arithmetic shape of the
    pair rescore (dot/(norm*norm), then *1e6, then floor): identical
    member vectors must reproduce the uncollapsed path's value bit-
    for-bit, including the ~1ulp-below-1.0 cases where float rounding
    makes cos(v,v) floor to 999999."""
    v = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    return _cos_1e6(v, v)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold_1e6: int = 950000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
    collapse: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= threshold), exact.

    ``id_col`` must be an integral column: ids travel through int64
    numpy panels and the output orders pairs as doc_a < doc_b.

    Two stages, both distributed:
      1. Blocked all-pairs prefilter — vectors hash into n_blocks
         groups (xxhash64, balanced); every block *pair* is one task
         doing a single numpy matmul over its two vector panels, so the
         n² dot products run at BLAS speed instead of one interpreted
         HOF per pair. Candidates keep a 100-micro-unit margin below
         the threshold to absorb summation-order rounding.
      2. Exact rescore of the (few) candidates with the deterministic
         left-to-right JVM dot product — bit-identical to the SQL
         oracle's list_inner_product, so the margin never leaks an
         off-by-one-ulp pair in or out.

    At 100 TB, stage 1 is the classic blocked similarity join: B(B+1)/2
    independent tasks, each streaming two column panels; n_blocks
    scales with corpus size to bound panel memory.

    ``collapse`` (probe-gated by default, same contract as
    ``dedup.ngram_jaccard_pairs``): bitwise-identical vectors grow the
    matmul panels linearly and the panel WORK quadratically — a corpus
    that is 100 verbatim copies costs 10000x the distinct matmul. When
    the HLL probe measures enough exact duplication, the matmul runs
    on one representative per distinct vector and the (by-definition
    quadratic) output is regenerated with JVM joins: cross pairs carry
    the rep pair's exact rescored cosine (members ARE the rep's
    doubles), within-group pairs get the rep's self-cosine computed
    with the rescore's exact arithmetic shape. Output-equivalent at
    any dup ratio; pass ``collapse=`` to skip the probe scan.
    """
    if collapse is None:
        collapse = _has_exact_dup_vecs(df, vec_col)
    if collapse:
        # slim (id, rep) frame, consumed by 4 plans below — persist so
        # the md5-style groupBy+join runs once, not per consumer
        groups = _vec_groups(df, id_col, vec_col).persist()
        reps = df.join(
            groups.where(F.col("id") == F.col("rep")).select(
                F.col("id").alias(id_col)
            ),
            id_col,
            "left_semi",
        )
        rep_pairs = embedding_neardup_pairs(
            reps, threshold_1e6, id_col, vec_col, n_blocks, collapse=False
        )
        ga = groups.select(F.col("rep").alias("doc_a"), F.col("id").alias("ma"))
        gb = groups.select(F.col("rep").alias("doc_b"), F.col("id").alias("mb"))
        cross = (
            rep_pairs.join(ga, "doc_a")
            .join(gb, "doc_b")
            .select(
                F.least("ma", "mb").alias("doc_a"),
                F.greatest("ma", "mb").alias("doc_b"),
                "cos_1e6",
            )
        )
        selfcos = reps.select(
            F.col(id_col).alias("rep"), _self_cos_1e6(vec_col).alias("cos_1e6")
        )
        m1 = groups.select("rep", F.col("id").alias("doc_a"))
        m2 = groups.select("rep", F.col("id").alias("doc_b"))
        within = (
            m1.join(m2, "rep")
            .where(F.col("doc_a") < F.col("doc_b"))
            .join(selfcos, "rep")
            .where(F.col("cos_1e6") >= threshold_1e6)
            .select("doc_a", "doc_b", "cos_1e6")
        )
        return cross.unionByName(within)
    # parallel arrays (ids + vectors), NOT an array<struct>: Arrow moves
    # each as one contiguous column and numpy stacks without a Python
    # dict per element — at 20k vectors this is the difference between
    # the matmul dominating and per-row decoding dominating
    blocked = df.select(
        F.pmod(F.xxhash64(F.lit(DEFAULT_SEED), F.col(id_col)), F.lit(n_blocks))
        .cast("int")
        .alias("block"),
        F.col(id_col).alias("id"),
        _as_double(vec_col).alias("v"),
    ).groupBy("block").agg(
        F.collect_list("id").alias("ids"),
        F.collect_list("v").alias("vs"),
    )
    pairs = (
        blocked.alias("a")
        .join(
            blocked.alias("b"),
            F.col("a.block") <= F.col("b.block"),
        )
        .select(
            F.col("a.block").alias("block_a"),
            F.col("a.ids").alias("ids_a"),
            F.col("a.vs").alias("vs_a"),
            F.col("b.block").alias("block_b"),
            F.col("b.ids").alias("ids_b"),
            F.col("b.vs").alias("vs_b"),
        )
    )
    margin = 100

    def scan(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b = [], []
            for ids_a, vs_a, ids_b, vs_b, same in zip(
                pdf["ids_a"],
                pdf["vs_a"],
                pdf["ids_b"],
                pdf["vs_b"],
                pdf["block_a"] == pdf["block_b"],
            ):
                ids_a = np.asarray(ids_a, dtype=np.int64)
                ids_b = np.asarray(ids_b, dtype=np.int64)
                ma = _normalize_rows(np.stack(vs_a))
                mb = _normalize_rows(np.stack(vs_b))
                sims = ma @ mb.T
                hot = sims * 1e6 >= threshold_1e6 - margin
                if same:
                    # within a block: strict id order dedupes + drops self
                    hot &= ids_a[:, None] < ids_b[None, :]
                    ii, jj = np.nonzero(hot)
                    out_a.append(ids_a[ii])
                    out_b.append(ids_b[jj])
                else:
                    # across blocks both id orders occur: orient afterwards
                    ii, jj = np.nonzero(hot)
                    la, lb = ids_a[ii], ids_b[jj]
                    out_a.append(np.minimum(la, lb))
                    out_b.append(np.maximum(la, lb))
            empty = np.array([], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_a": np.concatenate(out_a) if out_a else empty,
                    "doc_b": np.concatenate(out_b) if out_b else empty,
                }
            )

    cands = pairs.mapInPandas(scan, "doc_a long, doc_b long")
    a = df.select(F.col(id_col).alias("doc_a"), _as_double(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("doc_b"), _as_double(vec_col).alias("vb"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", _cos_1e6("va", "vb").alias("cos_1e6"))
        .where(F.col("cos_1e6") >= threshold_1e6)
    )


def _one_row_per(agg: DataFrame, rows: list[dict[str, Column]]) -> DataFrame:
    """Unfold a one-row aggregate into one output row per entry of
    ``rows`` (field name -> Column over ``agg``), in order — so every
    requested variant gets its row even when it matched nothing."""
    structs = [F.struct(*[c.alias(n) for n, c in r.items()]) for r in rows]
    exploded = F.explode(F.array(*structs)).alias("__r")
    return agg.select(exploded).select("__r.*")


def _hits(truth: DataFrame, approx: DataFrame, *cols: str) -> DataFrame:
    """The approximate rows (variant, query_id, neighbor_id, *cols)
    whose pair is in the exact top-k — a semi join, so a truth pair
    never duplicates an approximate row. Each variant's top-k holds a
    pair at most once, so per-variant counts equal the truth pairs
    recovered."""
    return approx.select("variant", "query_id", "neighbor_id", *cols).join(
        truth.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )


def topk_recall_floors(
    truth: DataFrame, approx: DataFrame, floors: dict[str, int]
) -> DataFrame:
    """In-engine recall audit of approximate top-k rows (tagged by a
    ``variant`` column) against the exact one: one row (variant,
    truth_pairs, meets_floor) per entry of ``floors`` (variant ->
    recall floor per 1000), from one semi join and one aggregate.

    ``meets_floor`` folds each variant's recall into a value that is
    STABLE across scale factors (the exact recall number is
    corpus-dependent; whether it clears a pinned floor is not), so the
    audit is oracle-able: a SQL twin recomputes ``truth_pairs`` from
    the deterministic brute-force contract (k rows per query) and
    expects ``meets_floor`` true. Recall regression in an approximate
    path then fails the hard correctness gate, not just a local test.
    """
    names = list(floors)
    hits = _hits(truth, approx).agg(
        *[
            F.count(F.when(F.col("variant") == v, 1)).alias(f"h{i}")
            for i, v in enumerate(names)
        ]
    )
    total = truth.agg(F.count(F.lit(1)).cast("long").alias("truth_pairs"))

    def meets(i: int, floor_per_1000: int) -> Column:
        recall = F.lit(1000.0) * F.col(f"h{i}") / F.col("truth_pairs")
        return F.floor(recall) >= F.lit(floor_per_1000)

    return _one_row_per(
        hits.crossJoin(total),
        [
            {
                "variant": F.lit(v),
                "truth_pairs": F.col("truth_pairs"),
                "meets_floor": meets(i, floors[v]),
            }
            for i, v in enumerate(names)
        ],
    )


def kmeans_assign_int(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse: bool | None = None,
) -> DataFrame:
    """Exact-integer Lloyd k-means: the oracle-checkable variant of
    ``train_ann``'s coarse k-means (float spherical k-means, rows-only
    by nature). Every quantity is int64, so an unrolled-K SQL twin is
    bit-identical — the iterative-ML class gets a hard correctness gate,
    not just a recall floor.

    Contract (mirrored by the oracle):
      * dims quantized ``floor(double(x) * scale)`` (float->double is
        exact; double multiply identical both engines);
      * init centroids = the k smallest ``id_col`` rows, cluster label
        = that id;
      * assignment = exact int squared-L2 argmin, ties to the LOWEST
        cluster id;
      * update = per-dim FLOOR(sum/count) (Python ``//``; the oracle
        must sign-correct DuckDB's truncating ``//``);
      * clusters that lose all members are dropped (both engines derive
        the surviving set identically).

    Scale: assignment is a broadcast-centroid arrow matmul (int64) —
    the corpus never shuffles; the update is a posexplode +
    map-side-combinable (cluster, dim) aggregation collecting only
    k*dim cells to the driver per iteration. The canonical distributed
    Lloyd shape: centroids live driver-side, data stays put.

    ``collapse`` (probe-gated, same family contract as
    ``embedding_neardup_pairs``): identical QUANTIZED vectors get
    identical assignments, and the floor-mean update is exactly
    weight-decomposable — sum/count over members == sum(v*m)/sum(m)
    over distinct vectors carrying multiplicity m — so on a measured
    dup-heavy corpus every per-iteration pass (argmin UDF, posexplode,
    cell agg) runs over the distinct-q frame only and members take
    their vector's cluster through one final join on q. Grouping keys
    on q itself (no hash): collision-free, and map-side partial
    combine shrinks the groupBy shuffle to the dup histogram.
    Bit-identical output either path; probe-skipped corpora pay one
    HLL scan.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    qvec = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"),
    )
    base = df.select(F.col(id_col).alias("id"), qvec.alias("q")).persist()
    init = base.orderBy("id").limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need >= {k} vectors, got {len(init)}")
    cents: dict[int, list[int]] = {int(r["id"]): list(r["q"]) for r in init}
    if collapse is None:
        r = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("q", rsd=0.02).alias("d"),
        ).first()
        n, d = (r["n"] or 0), (r["d"] or 0)
        collapse = n > 0 and (n - d) >= _VEC_COLLAPSE_MIN_DUP_FRAC * n
    if collapse:
        work = (
            base.groupBy("q").agg(F.count(F.lit(1)).alias("__m")).persist()
        )
    else:
        work = base.select("q", F.lit(1).cast("long").alias("__m"))

    def _assign_udf(cent_map: dict[int, list[int]]):
        ids = np.array(sorted(cent_map), dtype=np.int64)
        mat = np.array([cent_map[i] for i in ids], dtype=np.int64)

        @pandas_udf(LongType())
        def best(vecs: pd.Series) -> pd.Series:
            q = np.stack(vecs.to_numpy()).astype(np.int64)
            d = q[:, None, :] - mat[None, :, :]
            costs = np.einsum("bkd,bkd->bk", d, d)
            # argmin returns the FIRST minimum; ids sorted ascending =>
            # ties break to the lowest cluster id, same as the oracle's
            # row_number() ORDER BY cost, cluster
            return pd.Series(ids[np.argmin(costs, axis=1)])

        return best

    for _ in range(iters):
        best = _assign_udf(cents)
        cells = (
            work.select(best(F.col("q")).alias("cluster"), "q", "__m")
            .select("cluster", "__m", F.posexplode("q").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.col("v") * F.col("__m")).alias("s"),
                F.sum("__m").alias("n"),
            )
            .collect()
        )
        nxt: dict[int, list[int]] = {}
        for r in cells:
            vec = nxt.setdefault(int(r["cluster"]), [0] * len(init[0]["q"]))
            vec[int(r["pos"])] = int(r["s"]) // int(r["n"])  # Python //: floor
        cents = nxt  # empty clusters drop out, same as the oracle
    best = _assign_udf(cents)
    # base/work stay persisted: the caller's action re-reads them for
    # the final assignment (house pattern — small frames ride the LRU)
    if collapse:
        assigned = work.select("q", best(F.col("q")).alias("cluster"))
        return base.join(assigned, "q").select(
            F.col("id").alias(id_col), "cluster"
        )
    return base.select(
        F.col("id").alias(id_col), best(F.col("q")).alias("cluster")
    )


def grouped_neardup_pairs(
    df: DataFrame,
    group_col: str,
    threshold_1e6: int = 420000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse: bool | None = None,
) -> DataFrame:
    """Within-group cosine near-dup pairs (cos >= threshold), exact —
    the group-bounded sibling of ``embedding_neardup_pairs`` for
    SemDeDup-style pipelines where a clustering has already decided
    WHICH pairs are worth comparing (pairs never cross groups).

    Same two-stage contract: (1) one numpy panel matmul per group
    (BLAS speed, margin-padded threshold) to find candidates —
    measured 9x faster than folding an interpreted HOF dot product
    per pair; (2) exact left-to-right JVM rescore of candidates only,
    bit-identical to a SQL oracle's list_inner_product, so the margin
    never leaks an off-by-one-ulp pair in or out.

    Scale: one shuffle on ``group_col`` to build panels; each group is
    one task. Groups beyond ~100k vectors should be sub-blocked with
    embedding_neardup_pairs' hash scheme inside the group (panel RAM
    is O(|group| x dim)); at catalog scale a k-means cluster is far
    below that.

    ``collapse``: probe-gated representative collapse for bitwise-
    identical vectors, the group-bounded twin of
    ``embedding_neardup_pairs``'s (see there for the cost argument).
    Fingerprint groups are keyed by (group, vector-hash) so a vector
    duplicated ACROSS groups never collapses across the group
    boundary — pairs must not cross groups.
    """
    if collapse is None:
        collapse = _has_exact_dup_vecs(df, vec_col)
    if collapse:
        grp = F.col(group_col).cast("long")
        keyed = df.select(
            grp.alias("grp"),
            F.col(id_col).alias("id"),
            _vec_fp(vec_col).alias("__fp"),
        )
        mins = keyed.groupBy("grp", "__fp").agg(F.min("id").alias("rep"))
        # slim (grp, id, rep) frame, 4 consumers — persist (see the
        # ungrouped twin). ids are unique per the operator contract,
        # so a rep id alone identifies its (grp, fp) group and the
        # expansion joins below key on the rep id only.
        groups = (
            keyed.join(mins, ["grp", "__fp"])
            .select("grp", "id", "rep")
            .persist()
        )
        reps = df.join(
            groups.where(F.col("id") == F.col("rep")).select(
                F.col("id").alias(id_col)
            ),
            id_col,
            "left_semi",
        )
        rep_pairs = grouped_neardup_pairs(
            reps, group_col, threshold_1e6, id_col, vec_col, collapse=False
        )
        ga = groups.select(F.col("rep").alias("doc_a"), F.col("id").alias("ma"))
        gb = groups.select(F.col("rep").alias("doc_b"), F.col("id").alias("mb"))
        cross = (
            rep_pairs.join(ga, "doc_a")
            .join(gb, "doc_b")
            .select(
                F.least("ma", "mb").alias("doc_a"),
                F.greatest("ma", "mb").alias("doc_b"),
                "grp",
                "cos_1e6",
            )
        )
        selfcos = reps.select(
            F.col(id_col).alias("rep"), _self_cos_1e6(vec_col).alias("cos_1e6")
        )
        m1 = groups.select("grp", "rep", F.col("id").alias("doc_a"))
        m2 = groups.select("rep", F.col("id").alias("doc_b"))
        within = (
            m1.join(m2, "rep")
            .where(F.col("doc_a") < F.col("doc_b"))
            .join(selfcos, "rep")
            .where(F.col("cos_1e6") >= threshold_1e6)
            .select("doc_a", "doc_b", "grp", "cos_1e6")
        )
        return cross.unionByName(within)
    blocked = df.select(
        F.col(group_col).cast("long").alias("grp"),
        F.col(id_col).alias("id"),
        _as_double(vec_col).alias("v"),
    ).groupBy("grp").agg(
        F.collect_list("id").alias("ids"),
        F.collect_list("v").alias("vs"),
    )
    margin = 100

    def scan(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_g = [], [], []
            for grp, ids, vs in zip(pdf["grp"], pdf["ids"], pdf["vs"]):
                ids = np.asarray(ids, dtype=np.int64)
                if len(ids) < 2:
                    continue
                m = _normalize_rows(np.stack(vs))
                sims = m @ m.T
                hot = (sims * 1e6 >= threshold_1e6 - margin) & (
                    ids[:, None] < ids[None, :]
                )
                ii, jj = np.nonzero(hot)
                out_a.append(ids[ii])
                out_b.append(ids[jj])
                out_g.append(np.full(len(ii), grp, dtype=np.int64))
            empty = np.array([], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_a": np.concatenate(out_a) if out_a else empty,
                    "doc_b": np.concatenate(out_b) if out_b else empty,
                    "grp": np.concatenate(out_g) if out_g else empty,
                }
            )

    cands = blocked.mapInPandas(scan, "doc_a long, doc_b long, grp long")
    a = df.select(F.col(id_col).alias("doc_a"), _as_double(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("doc_b"), _as_double(vec_col).alias("vb"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("grp"),
            _cos_1e6("va", "vb").alias("cos_1e6"),
        )
        .where(F.col("cos_1e6") >= threshold_1e6)
    )


def topk_ranking_floors(
    truth: DataFrame,
    approx: DataFrame,
    k: int,
    floors: dict[str, tuple[int, int]],
) -> DataFrame:
    """Rank-AWARE audit of approximate top-k rows (tagged by a
    ``variant`` column) against the exact one: one row (variant,
    n_queries, meets_mrr_floor, meets_ndcg_floor) per entry of
    ``floors`` (variant -> (MRR, NDCG) floors per 1000). Complements
    ``topk_recall_floors`` (set overlap): MRR scores WHERE the first
    true neighbor lands in the approximate ranking, binary-relevance
    NDCG@k scores the whole list's ordering.

    Exactness: reciprocal ranks and DCG discounts are integer
    constants (floor(1e6/rank), floor(1e6/log2(i+1)) literals), means
    are integer divisions over every truth query (a query with no hit
    scores 0) — so the floor comparisons are drift-free and, like the
    recall audit, oracle-able as pinned booleans that fail the hard
    gate if ranking quality regresses.

    Scale: hits = one semi join on (nq x k) frames; everything
    downstream is (variant, query)-keyed aggregation over nq rows.
    """
    weights = [int(1_000_000 // math.log2(i + 1)) for i in range(1, k + 1)]
    idcg = sum(weights)
    w_arr = F.array([F.lit(w) for w in weights])
    names = list(floors)
    per_q = (
        _hits(truth, approx, "rank")
        .groupBy("variant", "query_id")
        .agg(
            F.min("rank").alias("first_rank"),
            F.sum(F.element_at(w_arr, F.col("rank").cast("int"))).alias("dcg"),
        )
        .select(
            "variant",
            F.expr("div(1000000, first_rank)").alias("rr"),
            F.expr(f"div(dcg * 1000000, {idcg})").alias("ndcg"),
        )
    )
    sums = per_q.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("variant") == v, F.col(c))), F.lit(0)
            ).alias(f"{c}{i}")
            for i, v in enumerate(names)
            for c in ("rr", "ndcg")
        ]
    )
    nq = truth.agg(F.countDistinct("query_id").alias("n_queries"))

    def meets(col: str, floor_per_1000: int) -> Column:
        return F.expr(f"div({col}, n_queries)") >= F.lit(floor_per_1000 * 1000)

    return _one_row_per(
        sums.crossJoin(nq),
        [
            {
                "variant": F.lit(v),
                "n_queries": F.col("n_queries").cast("long"),
                "meets_mrr_floor": meets(f"rr{i}", floors[v][0]),
                "meets_ndcg_floor": meets(f"ndcg{i}", floors[v][1]),
            }
            for i, v in enumerate(names)
        ],
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the byte-coded embedding path. At 100 TB
# the raw float corpus does not fit hot storage: PQ stores ~m bytes per
# vector (64-dim float32 -> 8 codes here = 32x smaller), serves the
# candidate scan from codes alone via asymmetric-distance lookups
# (ADC), and rescores only a shortlist against the raw vectors. Jegou
# et al., "Product Quantization for Nearest Neighbor Search" (public).
# ---------------------------------------------------------------------------


def _sq_dists(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(rows, centroids) squared L2 distances, expanded form."""
    return (
        (x * x).sum(axis=1, keepdims=True)
        - 2.0 * (x @ cents.T)
        + (cents * cents).sum(axis=1)
    )


def _plain_lloyd(mat: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Plain L2 Lloyd over a driver-resident training sliver. Unlike
    _lloyd_driver this does NOT normalize between iterations — PQ
    subvector codebooks live in the raw subspace (normalizing 8-dim
    slices of an already-normalized 64-dim vector would distort them).
    Init = first k rows (callers pass rows pre-ordered by the xxhash
    draw, so init is a deterministic pseudo-random sample); stable
    argsort tie-break; empty clusters keep their centroid."""
    cents = mat[:k].copy()
    for _ in range(iters):
        d2 = _sq_dists(mat, cents)
        clusters = np.argsort(d2, axis=1, kind="stable")[:, 0]
        new = cents.copy()
        for c in range(k):
            members = mat[clusters == c]
            if len(members):
                new[c] = members.mean(axis=0)
        cents = new
    return cents


def _pq_codebooks(
    rows: list, dim: int, m: int, n_codes: int, iters: int
) -> np.ndarray:
    """Per-subspace codebooks from a collected training sliver (rows of
    i, v, h): vectors are ordered by the xxhash draw (init = first
    n_codes rows, stable across partitionings because it keys on
    values, not arrival order) and unit-normalized before slicing."""
    if len(rows) < n_codes:
        raise ValueError(
            f"need >= {n_codes} training vectors, got {len(rows)}"
        )
    rows = sorted(rows, key=lambda r: (r["h"], r["i"]))
    mat = _normalize_rows(
        np.array([r["v"] for r in rows], dtype=np.float64)
    )
    dsub = dim // m
    return np.stack(
        [
            _plain_lloyd(mat[:, j * dsub : (j + 1) * dsub], n_codes, iters)
            for j in range(m)
        ]
    )


def _pq_codes(mat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(rows, m) nearest codebook entry per subspace of the normalized
    vectors; ties take the lowest code id (stable argsort)."""
    m, _, dsub = codebooks.shape
    mat = _normalize_rows(mat.astype(np.float64))
    out = np.empty((len(mat), m), dtype=np.int64)
    for j in range(m):
        d2 = _sq_dists(mat[:, j * dsub : (j + 1) * dsub], codebooks[j])
        out[:, j] = np.argsort(d2, axis=1, kind="stable")[:, 0]
    return out


def _pq_lut(qmat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """LUT[q, j, c] = ||q_subj - codebook[j][c]||^2 over normalized
    queries; the ADC distance of a coded vector for query q is
    sum_j LUT[q, j, code_j]."""
    m, _, dsub = codebooks.shape
    return np.stack(
        [
            _sq_dists(qmat[:, j * dsub : (j + 1) * dsub], codebooks[j])
            for j in range(m)
        ],
        axis=1,
    )


def _pq_encode_udf(codebooks: np.ndarray):
    """Arrow-batched encoder (``_pq_codes``) -> array<long>; the index
    build and incremental ingest encode through it."""

    @pandas_udf(ArrayType(LongType()))
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        return pd.Series(list(_pq_codes(mat, codebooks)))

    return encode


# ---------------------------------------------------------------------------
# The fused ANN kernel: every approximate variant from one trained value,
# one candidate pass and one exact tail.
# ---------------------------------------------------------------------------

_KINDS = ("ivf", "lsh", "pq", "ivfpq")


@dataclass(frozen=True)
class Variant:
    """One approximate top-k served by ``ann_topk``; ``name`` (default:
    the kind) tags its output rows.

    * 'ivf' / 'ivfpq': probe ``nprobe`` of ``n_centroids`` spherical
      k-means cells (``iters`` Lloyd passes; ``train_fraction``
      overrides the sliver size);
    * 'lsh': candidates collide with the query in at least one of
      ``n_tables`` tables of ``n_planes`` signed random projections;
    * 'pq' / 'ivfpq': rank candidates by ADC distance over ``m`` x
      ``n_codes`` codebooks (``pq_iters`` Lloyd passes) and rescore
      the per-query top ``shortlist`` exactly.

    ``prebuilt`` (an ``ann_index.AnnIndex``) supplies the centroids,
    codebooks and stored (cluster, codes) table in place of in-session
    training and encoding; m/n_codes then come from the artifact."""

    kind: str
    name: str | None = None
    n_centroids: int = 16
    nprobe: int = 4
    iters: int = 2
    train_fraction: float | None = None
    n_planes: int = 12
    n_tables: int = 4
    m: int = 8
    n_codes: int = 16
    pq_iters: int = 3
    shortlist: int = 50
    prebuilt: object = None

    @property
    def tag(self) -> str:
        return self.name or self.kind

    def coarse_key(self) -> tuple | None:
        if self.kind not in ("ivf", "ivfpq"):
            return None
        return (self.n_centroids, self.iters, self.train_fraction)

    def pq_key(self) -> tuple | None:
        if self.kind not in ("pq", "ivfpq"):
            return None
        return (self.m, self.n_codes, self.pq_iters)

    def check(self, dim: int) -> None:
        if self.kind not in _KINDS:
            raise ValueError(
                f"variant kind must be one of {_KINDS}: {self.kind!r}"
            )
        idx = self.prebuilt
        if idx is None:
            return
        if self.kind == "lsh":
            raise ValueError("lsh variants train nothing: no prebuilt index")
        _check_prebuilt_dim(idx, dim)
        if self.kind == "ivf" and idx.centroids is None:
            raise ValueError(f"index kind {idx.kind!r} has no centroids")
        if self.kind == "pq" and idx.codebooks is None:
            raise ValueError(f"index kind {idx.kind!r} has no codebooks")
        if self.kind == "ivfpq" and (
            idx.centroids is None or idx.codebooks is None
        ):
            raise ValueError(
                f"index kind {idx.kind!r} lacks centroids or codebooks"
            )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    variants: list[Variant] | tuple[Variant, ...],
    k: int = 5,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_rows: int | None = None,
) -> DataFrame:
    """(variant, query_id, neighbor_id, rank, cos_1e6): the exact-
    rescored top-k of every ``Variant`` in ``variants``, self-matches
    excluded (pipeline in the module docstring). The driver collects
    the widest training sliver (none when nothing trains in-session)
    and the query set; everything else is one lazy plan. Training keys
    on value hashes, ADC sums run in fixed subspace order and every tie
    breaks on ids, so the output is deterministic and a prebuilt
    variant equals its in-session twin row for row. ``corpus_rows``:
    see ``train_ann``'s ``n_rows``."""
    variants = list(variants)
    tags = [v.tag for v in variants]
    if not tags or len(set(tags)) != len(tags):
        raise ValueError(f"need one or more variants, names unique: {tags}")
    for v in variants:
        v.check(dim)
    in_session = [v for v in variants if v.prebuilt is None]
    # distinct training keys, first-seen order: variants trained alike
    # share one centroid / codebook array
    coarse = dict.fromkeys(
        v.coarse_key() for v in in_session if v.coarse_key()
    )
    pq = dict.fromkeys(v.pq_key() for v in in_session if v.pq_key())
    cents, books = train_ann(
        corpus, dim, list(coarse), list(pq), seed, id_col, vec_col,
        n_rows=corpus_rows,
    )
    qrows = sorted(
        queries.select(
            F.col(id_col).cast("long").alias("i"), F.col(vec_col).alias("v")
        ).collect(),
        key=lambda r: r["i"],
    )
    qids = np.array([r["i"] for r in qrows], dtype=np.int64)
    # the dtype the corpus side's Arrow batches carry (float32 here)
    stored = (
        np.float32
        if isinstance(queries.schema[vec_col].dataType.elementType, FloatType)
        else np.float64
    )
    qraw = np.array([r["v"] for r in qrows], dtype=stored)
    qraw = qraw.reshape(len(qrows), dim)
    qnorm = _normalize_rows(qraw.astype(np.float64))

    spark = corpus.sparkSession
    specs, sources = [], []
    for v in variants:
        idx = v.prebuilt
        spec = {
            "tag": v.tag, "ckey": v.coarse_key(), "pkey": v.pq_key(), "src": 0
        }
        if spec["ckey"]:
            c = cents[spec["ckey"]] if idx is None else idx.centroids
            spec.update(cents=c, qcells=_probe_cells(qraw, c, v.nprobe))
        if spec["pkey"]:
            b = books[spec["pkey"]] if idx is None else idx.codebooks
            spec.update(books=b, lut=_pq_lut(qnorm, b), shortlist=v.shortlist)
        if v.kind == "lsh":
            planes = np.stack(
                [
                    srp_planes(dim, v.n_planes, t, seed)
                    for t in range(v.n_tables)
                ]
            )
            spec.update(planes=planes, qbuckets=_srp_codes(qraw, planes))
        if idx is not None:
            spec["src"] = len(sources) + 1
            codes = idx.codes(spark)
            if spec["ckey"] and len(qids):
                # static partition prune: the codes table is hive-
                # partitioned by cell (ann_index._write_codes) and the
                # probed cells are known before the scan plans, so the
                # pass reads nprobe/n_centroids of the FILES
                probed = sorted({int(x) for x in spec["qcells"].ravel()})
                codes = codes.where(F.col("cluster").isin(probed))
            cols = [
                c for c, key in (("cluster", "ckey"), ("codes", "pkey"))
                if spec[key]
            ]
            sources.append(
                codes.select(F.lit(spec["src"]).alias("src"), "vec_id", *cols)
            )
        specs.append(spec)
    if any(s["src"] == 0 for s in specs):
        sources.insert(
            0,
            corpus.select(
                F.lit(0).alias("src"),
                F.col(id_col).cast("long").alias("vec_id"),
                F.col(vec_col).alias("v"),
            ),
        )
    # each source carries only the columns its variants read
    scan = sources[0]
    for s in sources[1:]:
        scan = scan.unionByName(s, allowMissingColumns=True)
    cands = scan.mapInPandas(
        lambda batches: _fused_candidates(batches, specs, qids),
        "variant string, query_id long, neighbor_id long, adc_1e6 long",
    )
    limits = {s["tag"]: s["shortlist"] for s in specs if "shortlist" in s}
    if limits:
        w = Window.partitionBy("variant", "query_id").orderBy(
            F.col("adc_1e6").asc(), F.col("neighbor_id")
        )
        keep = F.lit(True)
        for tag, n in limits.items():
            is_tag = F.col("variant") == tag
            keep = F.when(is_tag, F.col("r") <= n).otherwise(keep)
        if len(limits) == len(specs):
            # every variant is cut: a plain bound lets Spark apply the
            # cut per partition before the shuffle (WindowGroupLimit)
            keep = (F.col("r") <= max(limits.values())) & keep
        cands = cands.withColumn("r", F.row_number().over(w)).where(keep)
    pairs = cands.join(
        F.broadcast(_query_vectors(queries, id_col, vec_col)), "query_id"
    ).join(_corpus_vectors(corpus, id_col, vec_col), "neighbor_id")
    return _topk(pairs, k, ("variant", "query_id"))


def _fused_candidates(batches, specs: list[dict], qids: np.ndarray):
    """The one corpus pass: per Arrow batch, each variant's candidate
    (query_id, neighbor_id, adc_1e6) rows. Cells, codes and buckets of
    raw vectors are computed once per batch and shared by the variants
    trained alike; prebuilt variants read theirs from the stored
    columns. ADC variants keep their local top ``shortlist`` per query,
    quantized BEFORE selection so the local cut and the global window
    sort on the identical (adc_1e6, neighbor_id) key."""
    for pdf in batches:
        tags, qcol, ncol, acol = [], [], [], []
        for src, part in pdf.groupby("src", sort=False):
            ids = part["vec_id"].to_numpy(dtype=np.int64)
            raw = np.stack(part["v"].to_numpy()) if src == 0 else None
            cells, codes, buckets = {}, {}, {}
            for spec in specs:
                if spec["src"] != src:
                    continue
                ck, pk = spec["ckey"], spec["pkey"]
                if ck and ck not in cells:
                    cells[ck] = (
                        _probe_cells(raw, spec["cents"], 1)[:, 0]
                        if raw is not None
                        else part["cluster"].to_numpy(dtype=np.int64)
                    )
                if pk and pk not in codes:
                    codes[pk] = (
                        _pq_codes(raw, spec["books"])
                        if raw is not None
                        else np.array(part["codes"].tolist(), dtype=np.int64)
                    )
                if "planes" in spec:
                    bk = spec["planes"].shape
                    if bk not in buckets:
                        buckets[bk] = _srp_codes(raw, spec["planes"])
                if pk:
                    dist = np.zeros((len(qids), len(ids)), dtype=np.float64)
                    for j in range(codes[pk].shape[1]):
                        dist += spec["lut"][:, j, codes[pk][:, j]]
                for qi, qid in enumerate(qids):
                    mask = ids != qid
                    if ck:
                        mask &= np.isin(cells[ck], spec["qcells"][qi])
                    if "planes" in spec:
                        hit = buckets[bk] == spec["qbuckets"][qi]
                        mask &= hit.any(axis=1)
                    nbr = ids[mask]
                    if pk:
                        adc = np.floor(dist[qi][mask] * 1e6).astype(np.int64)
                        order = np.lexsort((nbr, adc))[: spec["shortlist"]]
                        nbr, adc = nbr[order], adc[order]
                    else:
                        adc = np.zeros(len(nbr), dtype=np.int64)
                    tags.append(np.full(len(nbr), spec["tag"], dtype=object))
                    qcol.append(np.full(len(nbr), qid, dtype=np.int64))
                    ncol.append(nbr)
                    acol.append(adc)
        if ncol:
            yield pd.DataFrame(
                {
                    "variant": np.concatenate(tags),
                    "query_id": np.concatenate(qcol),
                    "neighbor_id": np.concatenate(ncol),
                    "adc_1e6": np.concatenate(acol),
                }
            )


def _one_variant(
    corpus, queries, dim, k, variant, seed, id_col, vec_col, corpus_rows=None
):
    return ann_topk(
        corpus, queries, dim, [variant], k, seed, id_col, vec_col, corpus_rows
    ).drop("variant")


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via SRP-LSH candidate generation:
    (query_id, neighbor_id, rank, cos_1e6).

    Candidates = corpus vectors colliding with the query in >=1 table;
    exact cosine re-rank on candidates only. Recall rises with n_tables
    and falls with n_planes; 12 planes × 4 tables gives ~90%+ recall@5
    on random 64-dim data while pruning most of the corpus per query.
    No training pass: the planes derive from ``seed``."""
    return _one_variant(
        corpus, queries, dim, k,
        Variant("lsh", n_planes=n_planes, n_tables=n_tables),
        seed, id_col, vec_col,
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
    prebuilt=None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    The corpus partitions into n_centroids Voronoi cells (one cluster
    id per vector — the 'inverted lists'); each query probes its nprobe
    nearest cells and reranks exactly within them. Versus SRP-LSH this
    adapts to the data distribution (trained centroids) at the cost of
    a training pass. At 100 TB the assignment output would be written
    bucketed by cluster so the probe prunes to nprobe/n_centroids of
    the data per query.

    ``prebuilt`` (an ``ann_index.AnnIndex``) switches to the
    train-once / serve-many posture: centroids load from the artifact
    (no training job) and cell assignments come from the persisted
    codes table (no assignment scan of raw vectors) — raw vectors are
    only read for the exact rerank. Results are bit-identical to the
    in-session path with matching parameters (pinned by
    tests/test_ann_index.py)."""
    return _one_variant(
        corpus, queries, dim, k,
        Variant(
            "ivf", n_centroids=n_centroids, nprobe=nprobe, iters=iters,
            train_fraction=train_fraction, prebuilt=prebuilt,
        ),
        seed, id_col, vec_col, corpus_rows,
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    shortlist: int = 50,
    iters: int = 3,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prebuilt=None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via PQ ADC shortlist + exact rescore:
    (query_id, neighbor_id, rank, cos_1e6) — the LSH/IVF output shape.

    Serving shape: the candidate pass reads per-vector CODES (m int64s
    here; m bytes in a packed production layout) and per-query
    distances come from a (n_queries x m x n_codes) lookup table — no
    float vector math per candidate. Only the per-query top
    ``shortlist`` by ADC distance rejoins the raw vectors for the exact
    cosine re-rank.

    ``prebuilt`` (an ``ann_index.AnnIndex``) is the train-once /
    serve-many posture: codebooks load from the artifact (no training
    job) and the ADC pass reads the PERSISTED codes table — the
    serving path never touches raw corpus vectors except to rescore
    the shortlist. Bit-identical to in-session with matching params
    (pinned by tests/test_ann_index.py)."""
    return _one_variant(
        corpus, queries, dim, k,
        Variant(
            "pq", m=m, n_codes=n_codes, pq_iters=iters, shortlist=shortlist,
            prebuilt=prebuilt,
        ),
        seed, id_col, vec_col, corpus_rows,
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 32,
    shortlist: int = 200,
    iters: int = 2,
    seed: int = DEFAULT_SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prebuilt=None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """IVF-PQ: the composed production serving shape (FAISS's IVFPQ,
    public) — coarse spherical-k-means cells prune the corpus to
    nprobe/n_centroids per query, ADC over PQ codes ranks candidates
    WITHOUT touching raw floats, and only the per-query shortlist is
    rescored exactly. At 100 TB: inverted lists are stored bucketed by
    cell carrying m-byte codes (32x smaller than float32) and raw
    vectors are fetched for shortlist ids only. ``iters`` drives both
    the coarse k-means and the codebooks.

    ``prebuilt`` (an ``ann_index.AnnIndex`` of kind 'ivfpq') is the
    full train-once / serve-many posture: centroids + codebooks load
    from the artifact and the candidate pass reads the persisted
    (cell, codes) table, pruned to the probed cells' partitions — the
    query path runs zero training jobs and zero raw-vector scans
    outside the shortlist rescore. Bit-identical to in-session with
    matching params (pinned by tests/test_ann_index.py)."""
    return _one_variant(
        corpus, queries, dim, k,
        Variant(
            "ivfpq", n_centroids=n_centroids, nprobe=nprobe, iters=iters,
            m=m, n_codes=n_codes, pq_iters=iters, shortlist=shortlist,
            prebuilt=prebuilt,
        ),
        seed, id_col, vec_col, corpus_rows,
    )
