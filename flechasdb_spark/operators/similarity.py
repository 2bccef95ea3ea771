"""Similarity search over an embedding column: brute-force cosine top-k
(the exact baseline) and a random-hyperplane-LSH bucketed variant (the
100 TB scale path).

Extension surface (no reference counterpart — the reference's ANN is
IVF+PQ, operators/build.py + plans/ivf.py; this module is the
cosine/LSH family the task brief adds for training-data pipelines).

Determinism: hyperplanes are derived from integer arithmetic
``((p*2654435761 + j*40503) % 1024) / 512 - 1`` — every value is an
exact binary rational (k/512), so Spark and the DuckDB oracle compute
bit-identical dot products and identical bucket ids.

Scale design:
- ``cosine_topk``: per-query brute force — a broadcast nested-loop of
  Q queries against the corpus; linear scans parallelize perfectly but
  cost O(Q*M). Baseline + recall oracle only.
- ``lsh_bucket``: map-side only (``bits`` dot products per row, pure
  Catalyst expressions under whole-stage codegen, no shuffle).
- ``ann_lsh_topk`` / ``lsh_neardup_pairs``: candidates meet through an
  equi-join on the bucket id — shuffle keyed on bucket, never a cross
  join. Bucket sizes are M/2^bits in expectation; `bits` tunes the
  recall/fan-in trade-off, and AQE's skew-join split handles hot
  buckets (near-duplicate clusters) at scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flechasdb_spark.functions.linalg import (
    cosine_similarity,
    dot,
    norm2,
    squared_l2,
)

__all__ = [
    "hyperplane",
    "lsh_bucket",
    "cosine_topk",
    "ann_lsh_topk",
    "lsh_neardup_pairs",
    "cluster_neardup_pairs",
    "maxsim_doc_topk",
    "mmr_rerank",
]


def hyperplane(p: int, dim: int) -> list[float]:
    """The p-th deterministic pseudo-random hyperplane (values in
    [-1, 1), exact k/512 rationals — cross-engine reproducible)."""
    return [
        ((p * 2654435761 + j * 40503) % 1024) / 512.0 - 1.0 for j in range(dim)
    ]


def _dot_lit(vec: Column, plane: list[float]) -> Column:
    from flechasdb_spark.functions.linalg import lit_doubles

    lit = lit_doubles(plane)
    return F.aggregate(
        F.zip_with(vec, lit, lambda x, h: x.cast("double") * h),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lsh_bucket(
    vec: Column | str, dim: int, bits: int = 8, plane_offset: int = 0
) -> Column:
    """Random-hyperplane (SimHash) bucket id in [0, 2^bits): bit p is
    set iff dot(v, hyperplane_{plane_offset+p}) >= 0. Sign-random-
    projection LSH — collision probability 1 - theta/pi per bit
    (Charikar, STOC'02). ``plane_offset`` selects a disjoint hyperplane
    range, giving independent hash tables."""
    v = F.col(vec) if isinstance(vec, str) else vec
    bucket = F.lit(0).cast("long")
    for p in range(bits):
        bit = F.when(
            _dot_lit(v, hyperplane(plane_offset + p, dim)) >= 0, F.lit(2**p)
        ).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvector",
    round_to: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k per query (descending similarity,
    id tie-break). Broadcast the query side; WindowGroupLimit keeps the
    per-partition partial top-k before the shuffle."""
    pairs = df.join(F.broadcast(queries))
    cos = cosine_similarity(F.col(vec_col), F.col(query_vec_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos").desc(), F.col(id_col).asc()
    )
    out_cos = F.round(F.col("__cos"), round_to) if round_to is not None else F.col("__cos")
    return (
        pairs.select(query_id_col, id_col, cos.alias("__cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            out_cos.alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ann_lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvector",
    round_to: int | None = None,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate cosine top-k: candidates are corpus vectors in the
    SAME LSH bucket as the query; exact cosine + top-k within the
    candidate set. May return fewer than k rows per query (bucket
    smaller than k) — the standard ANN truncate semantics.

    ``multiprobe=True`` also probes every Hamming-1 neighbor bucket
    (flip each sign bit once): candidate set grows ~(bits+1)x, recall
    rises sharply because near-misses sit one flipped hyperplane away —
    the standard probing/recall dial alongside ``bits``."""
    corpus = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(vec_col, dim, bits).alias("__bucket"),
    )
    qb = lsh_bucket(query_vec_col, dim, bits)
    if multiprobe:
        probes = F.array(
            qb, *[qb.bitwiseXOR(F.lit(1 << p)) for p in range(bits)]
        )
        qs = queries.select(
            F.col(query_id_col),
            F.col(query_vec_col),
            F.explode(probes).alias("__bucket"),
        )
    else:
        qs = queries.select(
            F.col(query_id_col),
            F.col(query_vec_col),
            qb.alias("__bucket"),
        )
    pairs = corpus.join(F.broadcast(qs), "__bucket")
    cos = cosine_similarity(F.col(vec_col), F.col(query_vec_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos").desc(), F.col(id_col).asc()
    )
    out_cos = F.round(F.col("__cos"), round_to) if round_to is not None else F.col("__cos")
    return (
        pairs.select(query_id_col, id_col, cos.alias("__cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            out_cos.alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def lsh_neardup_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 4,
    tables: int = 1,
    impl: str = "catalyst",
) -> DataFrame:
    """Approximate cosine near-dup pairs (id_a < id_b, cos >= threshold,
    both ids in the same LSH bucket) — the bounded-candidate scale
    variant of dedup.embedding_neardup_pairs.

    ``impl="catalyst"`` (default) scores each candidate pair with the
    relational cosine expression — the DuckDB-oracle ground truth.
    ``impl="pandas"`` is the product path at scale: one
    ``applyInPandas`` per (table, bucket) group computes the bucket's
    pairwise block as a single BLAS matmul over the normalized matrix
    (the cluster_neardup_pairs pattern) — same equi-join shape and
    shuffle, vectorized scoring instead of one interpreted
    higher-order-function evaluation per pair (measured 2.9 s -> 0.9 s
    at sf0.1, tables=3). Both agree to ``round_to`` decimals (tested);
    BLAS vs sequential summation can differ in the last ulps, so a
    pair ulp-equidistant to ``threshold`` may differ across impls.

    Scale knobs: ``bits`` bounds bucket size (expected M/2^bits — it
    must GROW with corpus size or buckets go quadratic) but each extra
    bit multiplies pair recall by the per-bit collision probability
    (1 - theta/pi, ~0.86 at cos 0.9), so one table can't be both
    selective and high-recall. ``tables`` is the standard fix: L
    independent hyperplane sets, candidates = union over tables
    (recall 1-(1-p^bits)^L for ~L× the join cost). Each table uses a
    disjoint hyperplane range, pairs are deduped by min-table
    attribution. For very large M, prefer cluster_neardup_pairs
    (SemDeDup): cluster count scales freely without the per-bit recall
    penalty."""
    if tables < 1:
        raise ValueError(f"tables must be >= 1, got {tables}")
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        lsh_bucket(
                            vec_col, dim, bits, plane_offset=t * bits
                        ).alias("b"),
                    )
                    for t in range(tables)
                ]
            )
        ).alias("__tb"),
    ).select(id_col, vec_col, "__tb.t", "__tb.b")
    if impl == "pandas":
        import numpy as np

        thr = float(threshold)
        rt = round_to

        def _bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
            ids = pdf["__pid"].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            V = np.stack(pdf["__pv"].to_numpy()[order]).astype(np.float64)
            N = V / np.maximum(
                np.linalg.norm(V, axis=1, keepdims=True), 1e-300
            )
            S = N @ N.T
            iu, ju = np.triu_indices(len(ids), k=1)
            keep = S[iu, ju] >= thr
            c = S[iu[keep], ju[keep]]
            return pd.DataFrame(
                {
                    "id_a": ids[iu[keep]],
                    "id_b": ids[ju[keep]],
                    "cos": np.round(c, rt) if rt is not None else c,
                }
            )

        pairs = (
            bucketed.select(
                F.col(id_col).cast("long").alias("__pid"),
                F.col(vec_col).alias("__pv"),
                "t",
                "b",
            )
            .groupBy("t", "b")
            .applyInPandas(_bucket_pairs, "id_a long, id_b long, cos double")
        )
        if tables > 1:
            pairs = pairs.groupBy("id_a", "id_b").agg(
                F.min("cos").alias("cos")
            )
        return pairs.select("id_a", "id_b", "cos")
    elif impl != "catalyst":
        raise ValueError(f"unknown impl: {impl}")
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "t", "b"
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "t", "b"
    )
    pairs = a.join(b, ["t", "b"]).where(F.col("id_a") < F.col("id_b"))
    cos = cosine_similarity(F.col("va"), F.col("vb"))
    out = pairs.select("t", "id_a", "id_b", cos.alias("cos")).where(
        F.col("cos") >= threshold
    )
    if tables > 1:
        # a pair can meet in several tables: keep one row (min t) —
        # partial-aggregable, no window
        out = out.groupBy("id_a", "id_b").agg(F.min("cos").alias("cos"))
        # (cos is identical across tables for the same pair; min is a
        # deterministic combiner)
    score = F.round(F.col("cos"), round_to) if round_to is not None else F.col("cos")
    return out.select("id_a", "id_b", score.alias("cos"))



def cluster_neardup_pairs(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cent_col: str = "center",
    impl: str = "pandas",
) -> DataFrame:
    """Cluster-bucketed semantic near-dup — the SemDeDup shape
    (Abbas et al., arXiv:2303.09540): assign every embedding to its
    nearest centroid, then compare pairs only WITHIN a cluster and keep
    cosine >= threshold. The global O(M^2) collapses to
    sum_c |cluster_c|^2 — with balanced k-means centroids that is
    ~M^2/P, and every candidate pair meets through an equi-join on the
    cluster id, never a cross join.

    Returns ``(id_a, id_b, cluster, cos)`` with id_a < id_b.

    ``impl="pandas"`` (default, the product path): one
    ``applyInPandas`` per cluster — the pairwise block is a single
    vectorized BLAS matmul over the cluster's normalized matrix,
    exactly how SemDeDup computes it per cluster. ``impl="catalyst"``
    is the pure-relational form (one interpreted dot per pair) kept as
    the DuckDB-oracle ground truth; both agree to 4 decimals (tested),
    differing only in float summation order. Both impls score
    assignment as the full ``||v||^2 + ||c||^2 - 2<v,c>`` with
    lowest-cid tie-breaks, but BLAS vs sequential summation can still
    differ in the final ulps, so a vector ulp-equidistant between two
    centroids may land differently across impls (pair sets then differ
    by exactly those boundary vectors).

    Scale (100 TB): assignment is a broadcast of P centroids + a
    partial-aggregable argmin (shuffle carries one row per vector);
    the pair stage shuffles by cluster id (AQE skew split covers hot
    clusters). P must grow with M so a cluster's |c| x dim block fits
    an executor (SemDeDup's k ~ 100k at web scale); measured at 80k
    vectors x 64 dims, P=64: catalyst 171 s -> pandas 9 s on the same
    plan shape. Boundary-straddling duplicates are the (documented)
    misses, same as the paper.
    """
    if impl == "pandas":
        import numpy as np

        thr = float(threshold)
        # vectorized coarse assign (same argmin-by-(dist, cid) rule as
        # the relational form, one BLAS matmul per Arrow batch) — the
        # P-way interpreted distance expansion is the slow half once
        # the pair stage is vectorized (measured 58 s -> 9 s at 80k)
        crows = sorted(
            centroids.select(cent_id_col, cent_col).collect(),
            key=lambda r: r[cent_id_col],
        )
        cids = np.array([int(r[cent_id_col]) for r in crows], dtype=np.int64)
        C = np.array([list(r[cent_col]) for r in crows], dtype=np.float64)
        c_sq = (C**2).sum(axis=1)

        @F.pandas_udf("long")
        def _assign(vec: pd.Series) -> pd.Series:
            V = np.stack(vec.to_numpy()).astype(np.float64)
            # full ||v||^2 + ||c||^2 - 2<v,c> so both impls score the
            # same mathematical quantity; BLAS vs sequential summation
            # can still differ in the last ulps, so assignment on a
            # near-exact centroid-distance tie may differ between impls
            # (argmin ties themselves break to the lowest cid in both)
            sc = (
                (V**2).sum(axis=1)[:, None]
                + c_sq[None, :]
                - 2.0 * (V @ C.T)
            )
            return pd.Series(cids[np.argmin(sc, axis=1)])

        assign = vectors.select(
            F.col(id_col).cast("long").alias("__pid"),
            F.col(vec_col).alias("__v"),
            _assign(F.col(vec_col)).alias("cluster"),
        )

        def _cluster_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
            ids = pdf["__pid"].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            V = np.stack(pdf["__v"].to_numpy()[order]).astype(np.float64)
            N = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = N @ N.T
            iu, ju = np.triu_indices(len(ids), k=1)
            keep = S[iu, ju] >= thr
            return pd.DataFrame(
                {
                    "id_a": ids[iu[keep]],
                    "id_b": ids[ju[keep]],
                    "cluster": np.int64(pdf["cluster"].iloc[0]),
                    "cos": np.round(S[iu[keep], ju[keep]], 4),
                }
            )

        return assign.groupBy("cluster").applyInPandas(
            _cluster_pairs,
            "id_a long, id_b long, cluster long, cos double",
        )
    if impl != "catalyst":
        raise ValueError(f"unknown impl: {impl!r}")
    # norm is computed ONCE per row here, not per pair: higher-order
    # aggregates run interpreted (outside codegen), so the pair stage —
    # the |cluster|^2 hot loop — must cost exactly one dot product,
    # with the norms riding along as plain doubles.
    # r12 (guide §2.4): the P centroids are driver-small by the
    # SemDeDup contract, so the coarse assign is the map-only literal
    # argmin (plans.ivf._assign_best_expr — same squared_l2 fold, same
    # (d, cid) tie-break) instead of a crossJoin + groupBy that
    # shuffles one full-vector row per input; the broadcast-join form
    # stays as the over-budget fallback.
    from flechasdb_spark.plans.ivf import (
        _assign_best_expr,
        _small_centroid_rows,
    )

    lit_rows = _small_centroid_rows(centroids, cent_id_col, cent_col)
    if lit_rows is not None:
        best = _assign_best_expr(
            lit_rows,
            vec_col,
            pid_type=centroids.schema[cent_id_col].dataType.simpleString(),
        )
        assign = (
            vectors.select(id_col, vec_col)
            .withColumn("__m", best)
            .select(
                F.col(id_col),
                F.col("__m")["p"].alias("cluster"),
                F.col(vec_col).alias("__v"),
                norm2(F.col(vec_col)).alias("__n"),
            )
        )
    else:
        cents = F.broadcast(
            centroids.select(
                F.col(cent_id_col).alias("__cid"),
                F.col(cent_col).alias("__cv"),
            )
        )
        d = squared_l2(F.col(vec_col), F.col("__cv"))
        assign = (
            vectors.select(id_col, vec_col)
            .crossJoin(cents)
            .groupBy(id_col)
            .agg(
                F.min(F.struct(d.alias("d"), F.col("__cid"))).alias("__m"),
                F.first(vec_col).alias("__v"),
            )
            .select(
                F.col(id_col),
                F.col("__m.__cid").alias("cluster"),
                F.col("__v"),
                norm2(F.col("__v")).alias("__n"),
            )
        )
    a = assign.select(
        F.col(id_col).alias("id_a"),
        F.col("cluster"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = assign.select(
        F.col(id_col).alias("id_b"),
        F.col("cluster").alias("__clb"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    cos = dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        a.join(b, (F.col("cluster") == F.col("__clb")) & (F.col("id_a") < F.col("id_b")))
        .where(cos >= threshold)
        .select(
            "id_a",
            "id_b",
            F.col("cluster").cast("long").alias("cluster"),
            F.round(cos, 4).alias("cos"),
        )
    )


def maxsim_doc_topk(
    vectors: DataFrame,
    query: list[float],
    k: int = 10,
    doc_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 4,
) -> DataFrame:
    """Late-interaction document retrieval (the ColBERT MaxSim shape):
    a document is a BAG of vectors (passages/token blocks, grouped by
    ``doc_col``); its score against the query is the MAX cosine over
    its members, and the top-k documents win.

    Plan: one map-only cosine per vector, a partially-aggregable
    max(struct(score, best_vec)) per document (map-side combine — the
    shuffle carries one row per doc), then TakeOrderedAndProject for
    the global top-k. No joins, no windows; scales as a single pass
    over the vector table. Returns (doc, score, best_vec_id).
    """
    from flechasdb_spark.functions.linalg import lit_doubles

    q = lit_doubles(query)
    cos = cosine_similarity(F.col(vec_col), q)
    scored = vectors.select(
        F.col(doc_col).alias("doc"),
        F.col(id_col).alias("vid"),
        cos.alias("c"),
    )
    best = scored.groupBy("doc").agg(
        F.max(
            F.struct(
                F.col("c").alias("c"), (-F.col("vid")).alias("negid")
            )
        ).alias("b")
    )
    score = F.col("b.c")
    if round_to is not None:
        score = F.round(score, round_to)
    return (
        best.select(
            "doc",
            score.alias("score"),
            (-F.col("b.negid")).cast("long").alias("best_vec_id"),
        )
        .orderBy(F.col("score").desc(), "doc")
        .limit(k)
    )


def mmr_rerank(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvector",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick ``k`` results per query maximizing

        lam * rel(d) - (1 - lam) * max_{s in selected} sim(d, s)

    over the top-``n_candidates`` cosine candidates (penalty 0 for the
    first pick). The serving-path diversity layer every vector index
    grows next to plain top-k — the reference stops at distance order
    (src/protos.rs query results); this de-duplicates near-identical
    hits in the answer set itself.

    Returns (query_id, vec_id, mmr_rank, rel, mmr_score) with exactly
    the greedy selection order.

    Scale shape: candidates are bounded per query (any kNN source —
    here the exact brute-force scan; at corpus scale the IVF/LSH path
    feeds the same shape), candidate-candidate similarities meet
    through an equi-join on the query key (O(Q * N^2) bounded rows,
    never corpus-quadratic), and the greedy loop runs per query group
    inside one Arrow batch (O(k * N) on N<=n_candidates rows). Queries
    parallelize across partitions; nothing iterates over the corpus.

    Engine-exact contract: rel and pairwise sims are the sequential-
    fold cosine ROUNDED to 4 decimals before the greedy loop consumes
    them, so selection compares identical doubles in Spark and the
    DuckDB oracle (k chained argmax CTEs); ties break on ascending id.
    ``lam`` should have a short decimal expansion (default 0.5) so
    ``mmr_score`` is exact at 5 decimals."""
    if k < 1 or n_candidates < k:
        raise ValueError(f"need 1 <= k <= n_candidates, got {k}, {n_candidates}")
    if candidates is None:
        # default candidate source: exact brute-force cosine (the
        # oracle form); at corpus scale pass the IVF/LSH top-N as
        # ``candidates`` instead -- the greedy consumes the same shape
        cand = cosine_topk(
            df,
            queries,
            k=n_candidates,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            round_to=4,
        ).select(
            query_id_col, F.col(id_col).alias("__cid"), F.col("cos").alias("rel")
        )
    else:
        need = {query_id_col, id_col, "rel"}
        if not need <= set(candidates.columns):
            raise ValueError(
                f"candidates must carry columns {sorted(need)}, "
                f"got {candidates.columns}"
            )
        cand = candidates.select(
            query_id_col,
            F.col(id_col).alias("__cid"),
            F.round(F.col("rel"), 4).alias("rel"),
        )
    vecs = df.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__v")
    )
    # persist the bounded candidate set (Q * n_candidates rows) before
    # the pair self-join: without it both join branches re-derive the
    # whole candidate top-k -- i.e. the corpus scan runs TWICE (the
    # dominant cost at scale). Cache lifetime is caller-managed, as for
    # rq_encode/dsir_importance (ADVICE r5): one bounded-small table
    # per call, LRU-evicted.
    cv = (
        cand.join(vecs, "__cid")
        .select(
            query_id_col,
            F.col("__cid").alias("a"),
            "rel",
            F.col("__v").alias("__va"),
        )
        .persist()
    )
    cb = cv.select(
        query_id_col, F.col("a").alias("b"), F.col("__va").alias("__vb")
    )
    # bounded N x N per query (self-pairs kept so an N=1 group still
    # reaches the greedy stage); equi-join on the query key only
    pairs = cv.join(cb, query_id_col).select(
        query_id_col,
        "a",
        "rel",
        "b",
        F.round(cosine_similarity(F.col("__va"), F.col("__vb")), 4).alias("s"),
    )
    qcol = query_id_col

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf[qcol].iloc[0]
        rel = {}
        sims = {}
        for a, r, b, s in zip(pdf["a"], pdf["rel"], pdf["b"], pdf["s"]):
            rel[a] = float(r)
            sims[(a, b)] = float(s)
        remaining = sorted(rel)
        selected: list = []
        rows = []
        for rank in range(1, k + 1):
            if not remaining:
                break
            best = None
            for d in remaining:
                pen = max(sims[(d, s2)] for s2 in selected) if selected else 0.0
                score = lam * rel[d] - (1.0 - lam) * pen
                key = (-score, d)
                if best is None or key < best[0]:
                    best = (key, d, score)
            _, d, score = best
            remaining.remove(d)
            selected.append(d)
            rows.append((qid, d, rank, rel[d], round(score, 5)))
        return pd.DataFrame(
            rows, columns=[qcol, id_col, "mmr_rank", "rel", "mmr_score"]
        )

    # derive the Arrow-batch output schema from the INPUT dtypes so
    # string/int ids and non-default id_col names survive (hardcoding
    # 'vec_id long' broke both, ADVICE r6)
    qtype = dict(queries.dtypes)[query_id_col]
    idtype = dict(df.dtypes)[id_col]
    return (
        pairs.groupBy(qcol)
        .applyInPandas(
            _greedy,
            schema=f"{qcol} {qtype}, {id_col} {idtype}, mmr_rank long, "
            "rel double, mmr_score double",
        )
    )
