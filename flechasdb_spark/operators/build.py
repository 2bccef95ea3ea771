"""IVF+PQ index build — the reference's ``DatabaseBuilder.build()``
(``/root/reference/src/db/build.rs:44-129``) restructured for Spark
(SURVEY.md §3.1, §7 step 3).

Pipeline (B2-B9 of SURVEY.md §2.1):
1. Model training on a bounded driver-side SAMPLE: seeded NumPy
   k-means for the coarse partitioner (k = P over full vectors) and for
   the D PQ codebooks (k = C over residual subvectors). All models
   together are P*N + D*C*(N/D) = (P+C)*N floats — tiny. Training on a
   sample + encoding the full data distributed is the 100 TB-correct
   shape: a full-data iterative fit is P extra full scans (MLlib
   KMeans = maxIter jobs over every row) for no recall gain once the
   sample is representative (~100k rows).
2. Encode: ONE distributed Arrow-batched pass computing, per row,
   partition_id = argmin_p ||v - centroid_p||^2, residual =
   v - centroid[pid], and codes[d] = argmin_c ||residual_d -
   codebook[d][c]||^2 (B6-B9 fused: no join, no shuffle; models ride
   along as a broadcast).

``coarse="mllib"`` keeps a distributed MLlib KMeans coarse fit for the
cases where no driver-sized sample represents the data (extreme P or
adversarial distributions) — the trade: maxIter full scans.

The result keeps every non-vector column as an attribute column — the
Spark-idiomatic form of the reference's attribute table (SURVEY.md §1.1).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StructField,
    StructType,
)

from flechasdb_spark.operators.kmeans_np import kmeans_fit

__all__ = [
    "IndexConfig",
    "IndexModel",
    "assemble_index",
    "build_index",
    "pq_encoder_udf",
    "train_codebooks_distributed",
]


# the at-rest schemas of the small model tables (``centroids/`` and
# ``codebooks/`` of a store, sources/manifest.py); every field nullable,
# as the Parquet reader reports them
_CENTROIDS_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("centroid", ArrayType(FloatType())),
    ]
)
_CODEBOOKS_SCHEMA = StructType(
    [
        StructField("division", IntegerType()),
        StructField("code", IntegerType()),
        StructField("center", ArrayType(FloatType())),
    ]
)


@dataclass(frozen=True)
class IndexConfig:
    """Mirrors the reference's builder knobs
    (defaults P=10, D=8, C=16 — /root/reference/src/db/build.rs:48-50)."""

    num_partitions: int = 10
    num_divisions: int = 8
    num_codes: int = 16
    seed: int = 42
    max_iter: int = 100
    tol: float = 1e-6
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    # max sample rows collected to the driver for model training
    train_sample_rows: int = 100_000
    # per-fit cap: each k-means trains on at most this many points per
    # centroid (the faiss clustering default) — more adds cost, not
    # quality; keeps driver-side training O(k) as k grows
    max_points_per_centroid: int = 256
    # "sample" (driver-side seeded NumPy k-means on a bounded sample)
    # or "mllib" (distributed KMeans over the full data)
    coarse: str = "sample"
    # keep the ORIGINAL vector column on the encoded rows (and thus in
    # the persisted index partitions) alongside the PQ codes — the
    # IVF+PQ-with-refinement layout: ~4*N bytes/vector extra storage
    # buys ann_query(rerank="stored") an exact re-rank in the SAME
    # pruned scan that scores ADC (no second table, no second scan)
    keep_vectors: bool = False
    # OPQ-style dimension reordering before the subvector split: train a
    # variance-balanced permutation of the residual dimensions so each
    # PQ subspace carries ~equal energy (the non-parametric baseline of
    # Ge et al., "Optimized Product Quantization", CVPR 2013 — natural
    # vs structured dimension order). The reference splits in natural
    # order only (/root/reference/src/vector.rs:154-174); embeddings
    # whose variance concentrates in a few dims waste codebook entropy
    # there. Permutation is trained on the build sample, frozen into
    # the manifest, and applied identically at encode and query time.
    balance_dims: bool = False


@dataclass
class IndexModel:
    """A built IVF+PQ index: small models on the driver, encoded data
    distributed."""

    config: IndexConfig
    vector_size: int
    num_vectors: int
    # None when the index was loaded with collect_centroids=False (the
    # huge-P serving mode: P ~ sqrt(M) reaches ~3e5 x 1536 floats at
    # M=1e11 — too large to materialize per driver); probe selection
    # then runs as a distributed job over ``centroids_source`` and only
    # the O(Q * nprobe) probed centroids ever reach the driver.
    centroids: np.ndarray | None  # (P, N) float64
    codebooks: np.ndarray  # (D, C, N/D) float64
    encoded: DataFrame  # (id_col, partition_id int, codes array<int>, attrs...)
    attr_cols: list[str] = field(default_factory=list)
    # build instrumentation (reference event-callback parity, §2.3)
    stage_seconds: dict = field(default_factory=dict)
    # lazy centroid table (partition_id int, centroid array<float>);
    # set by load_index(collect_centroids=False)
    centroids_source: DataFrame | None = None
    # OPQ-style dimension permutation applied to residuals before the
    # subvector split (None = natural order). codes[d] quantizes
    # residual[perm[d*w : (d+1)*w]]; queries permute the localized
    # vector the same way before building ADC tables.
    dim_perm: tuple[int, ...] | None = None

    @property
    def subvector_width(self) -> int:
        return self.vector_size // self.config.num_divisions

    def centroids_df(self, spark) -> DataFrame:
        if self.centroids is None:
            if self.centroids_source is None:
                raise ValueError("index has neither centroids nor a source")
            return self.centroids_source
        from flechasdb_spark.plans.ivf import _driver_frame

        return _driver_frame(
            spark,
            {
                "partition_id": np.arange(len(self.centroids), dtype=np.int32),
                "centroid": np.asarray(self.centroids, dtype=np.float32),
            },
            _CENTROIDS_SCHEMA,
        )

    def centroids_np(self) -> np.ndarray:
        """Materialized (P, N) centroids — collects the lazy source when
        the index was loaded with collect_centroids=False. Maintenance
        (upsert encode) needs this; the query path does not."""
        if self.centroids is not None:
            return self.centroids
        # the ids are unique: sorting on the driver saves orderBy's jobs
        rows = sorted(
            self.centroids_source.collect(), key=lambda r: r.partition_id
        )
        return np.array([r.centroid for r in rows], dtype=np.float64)

    def codebooks_df(self, spark) -> DataFrame:
        from flechasdb_spark.plans.ivf import _driver_frame

        d, c, w = self.codebooks.shape
        return _driver_frame(
            spark,
            {
                "division": np.repeat(np.arange(d, dtype=np.int32), c),
                "code": np.tile(np.arange(c, dtype=np.int32), d),
                "center": np.asarray(self.codebooks, dtype=np.float32).reshape(
                    d * c, w
                ),
            },
            _CODEBOOKS_SCHEMA,
        )


def variance_balanced_permutation(residuals: np.ndarray, d: int) -> np.ndarray:
    """Greedy variance-balanced assignment of dimensions to the D PQ
    subspaces (the non-parametric OPQ baseline): dimensions sorted by
    residual variance descending, each assigned to the unfilled
    subspace with the lowest variance sum so far; within a subspace,
    dimensions keep ascending order. Deterministic given the sample.
    Returns perm with new_vec = vec[perm], subspace d owning
    perm[d*w : (d+1)*w]."""
    n = residuals.shape[1]
    if n % d != 0:
        raise ValueError(f"vector_size {n} not divisible by {d}")
    w = n // d
    var = residuals.var(axis=0)
    order = np.argsort(-var, kind="stable")
    sums = np.zeros(d)
    slots = [w] * d
    groups: list[list[int]] = [[] for _ in range(d)]
    for dim in order:
        open_ds = [i for i in range(d) if slots[i] > 0]
        tgt = min(open_ds, key=lambda i: (sums[i], i))
        groups[tgt].append(int(dim))
        sums[tgt] += var[dim]
        slots[tgt] -= 1
    return np.array([dim for g in groups for dim in sorted(g)], dtype=int)


def pq_encoder_udf(
    spark,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    dim_perm=None,
):
    """The fused assign+residualize+encode kernel (B6+B9) as an
    Arrow-batched pandas UDF: vec -> struct(partition_id, codes).
    Shared by the batch build and the streaming incremental encode.
    ``dim_perm``: optional OPQ-style dimension permutation applied to
    the residual before the subvector split (coarse assignment stays in
    the original space — permutation is distance-preserving, so IVF is
    unaffected; only the split changes)."""
    b_cent = spark.sparkContext.broadcast(centroids)
    b_cb = spark.sparkContext.broadcast(codebooks)
    perm = None if dim_perm is None else np.asarray(dim_perm, dtype=int)
    d, c, w = codebooks.shape

    @F.pandas_udf("struct<partition_id:int, codes:array<int>>")
    def encode(vec: pd.Series) -> pd.DataFrame:
        cent, cb = b_cent.value, b_cb.value
        x = np.array([np.asarray(v, dtype=np.float64) for v in vec])
        # coarse assign: argmin_p (||c_p||^2 - 2 x.c_p)  [||x||^2 constant]
        scores = (cent**2).sum(axis=1)[None, :] - 2.0 * (x @ cent.T)
        pid = np.argmin(scores, axis=1)
        res = x - cent[pid]
        if perm is not None:
            res = res[:, perm]
        m = res.shape[0]
        codes = np.empty((m, d), dtype=np.int32)
        for di in range(d):
            sub = res[:, di * w : (di + 1) * w]
            cb_d = cb[di]
            sc = (cb_d**2).sum(axis=1)[None, :] - 2.0 * (sub @ cb_d.T)
            codes[:, di] = np.argmin(sc, axis=1)
        return pd.DataFrame(
            {"partition_id": pid.astype("int32"), "codes": list(codes)}
        )

    return encode


def _sample_to_driver(df: DataFrame, cfg: IndexConfig) -> np.ndarray:
    """Bounded, seeded sample of vectors for model training."""
    total = df.count()
    frac = min(1.0, cfg.train_sample_rows / max(total, 1))
    sample = (
        df.select(cfg.vec_col).sample(fraction=frac, seed=cfg.seed).toPandas()
    )
    return np.array(
        [np.asarray(v, dtype=np.float64) for v in sample[cfg.vec_col]]
    )


def _cap_for_fit(x: np.ndarray, k: int, cfg: IndexConfig, seed: int) -> np.ndarray:
    """Deterministic subsample to max_points_per_centroid * k rows —
    beyond that, extra points add Lloyd's cost, not centroid quality."""
    cap = cfg.max_points_per_centroid * k
    if cap <= 0 or x.shape[0] <= cap:
        return x
    idx = np.random.RandomState(seed).choice(x.shape[0], cap, replace=False)
    return x[np.sort(idx)]


def _train_sample(vecs: np.ndarray, cfg: IndexConfig, n: int):
    """Coarse centroids + PQ codebooks from one driver-side sample."""
    coarse_x = _cap_for_fit(vecs, cfg.num_partitions, cfg, cfg.seed + 17)
    centroids, _ = kmeans_fit(
        coarse_x, cfg.num_partitions, seed=cfg.seed,
        max_iter=cfg.max_iter, tol=cfg.tol,
    )
    # residualize the FULL sample against the trained centroids
    labels = np.argmin(
        (centroids**2).sum(axis=1)[None, :] - 2.0 * (vecs @ centroids.T),
        axis=1,
    )
    residuals = vecs - centroids[labels]
    d, w = cfg.num_divisions, n // cfg.num_divisions
    perm = None
    if cfg.balance_dims:
        perm = variance_balanced_permutation(residuals, d)
        residuals = residuals[:, perm]
    codebooks = np.empty((d, cfg.num_codes, w), dtype=np.float64)
    for di in range(d):
        sub = _cap_for_fit(
            residuals[:, di * w : (di + 1) * w],
            cfg.num_codes,
            cfg,
            cfg.seed + 31 * di,
        )
        centers, _ = kmeans_fit(
            sub, cfg.num_codes, seed=cfg.seed + 1000 + di,
            max_iter=cfg.max_iter, tol=cfg.tol,
        )
        codebooks[di] = centers
    return centroids, codebooks, perm


def train_codebooks_distributed(
    df: DataFrame,
    centroids: np.ndarray,
    cfg: IndexConfig,
    n: int,
    dim_perm=None,
) -> np.ndarray:
    """D-way parallel PQ codebook training via grouped ``applyInPandas``
    (SURVEY.md §4's custom piece (c)): residual subvectors explode to
    ``(division, subvector)`` rows, one seeded k-means per division
    group runs where that division's data lands. Use when the training
    set must exceed a driver-sized sample; cost is one full-data
    explode+shuffle keyed on division (D groups — set
    ``spark.sql.shuffle.partitions`` >= D for full parallelism).

    Deterministic: group rows are sorted by id inside the UDF before
    fitting (grouped-map input order is not stable across runs)."""
    spark = df.sparkSession
    b_cent = spark.sparkContext.broadcast(centroids)
    d, w = cfg.num_divisions, n // cfg.num_divisions
    c = cfg.num_codes
    seed = cfg.seed
    id_col, vec_col = cfg.id_col, cfg.vec_col
    perm = None if dim_perm is None else np.asarray(dim_perm, dtype=int)
    # centroids in split order (permuted when balance_dims reordered the
    # dimensions) — the fit residualizes in the same order it slices
    b_cent_split = spark.sparkContext.broadcast(
        centroids if perm is None else centroids[:, perm]
    )

    if perm is None:
        slices = F.array(
            *[
                F.struct(
                    F.lit(di).alias("division"),
                    F.slice(F.col(vec_col), di * w + 1, w).alias("sub"),
                )
                for di in range(d)
            ]
        )
    else:
        slices = F.array(
            *[
                F.struct(
                    F.lit(di).alias("division"),
                    F.array(
                        *[
                            F.element_at(F.col(vec_col), int(p) + 1)
                            for p in perm[di * w : (di + 1) * w]
                        ]
                    ).alias("sub"),
                )
                for di in range(d)
            ]
        )
    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id")
        di = int(pdf["division"].iloc[0])
        cent = b_cent_split.value
        sub = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["sub"]]
        )
        # residualize against the coarse centroid's matching slice
        pid = pdf["__pid"].to_numpy()
        sub = sub - cent[pid][:, di * w : (di + 1) * w]
        centers, _ = kmeans_fit(
            sub, c, seed=seed + 1000 + di,
            max_iter=cfg.max_iter, tol=cfg.tol,
        )
        return pd.DataFrame(
            {
                "division": di,
                "code": np.arange(c, dtype=np.int32),
                "center": [list(map(float, ctr)) for ctr in centers],
            }
        )

    # coarse-assign first (cheap argmin vs broadcast centroids)
    @F.pandas_udf("int")
    def assign(vec: pd.Series) -> pd.Series:
        cent = b_cent.value
        x = np.array([np.asarray(v, dtype=np.float64) for v in vec])
        sc = (cent**2).sum(axis=1)[None, :] - 2.0 * (x @ cent.T)
        return pd.Series(np.argmin(sc, axis=1).astype("int32"))

    with_pid = df.withColumn("__pid", assign(F.col(vec_col)))
    exploded = with_pid.select(
        F.col(id_col).alias("__id"), "__pid", F.explode(slices).alias("s")
    ).select(
        "__id", "__pid",
        F.col("s.division").alias("division"),
        F.col("s.sub").alias("sub"),
    )
    rows = (
        exploded.groupBy("division")
        .applyInPandas(fit, "division int, code int, center array<double>")
        .collect()
    )
    codebooks = np.empty((d, c, w), dtype=np.float64)
    for r in rows:
        codebooks[r.division, r.code] = r.center
    return codebooks


def _train_mllib_coarse(df: DataFrame, cfg: IndexConfig) -> np.ndarray:
    """Distributed coarse k-means (k-means|| seeding = B3-B5 of the
    reference, maxIter full scans) for data no sample represents."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__features", array_to_vector(F.col(cfg.vec_col)))
    km = KMeans(
        k=cfg.num_partitions,
        seed=cfg.seed,
        maxIter=cfg.max_iter,
        tol=cfg.tol,
        featuresCol="__features",
        predictionCol="__pid",
    )
    model = km.fit(feat)
    return np.array(
        [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
    )


def _vector_size(df: DataFrame, cfg: IndexConfig) -> int:
    first = df.select(F.size(F.col(cfg.vec_col)).alias("n")).first()
    if first is None:
        raise ValueError("cannot build an index over an empty DataFrame")
    n = int(first["n"])
    if n % cfg.num_divisions != 0:
        # invariant of the reference: src/vector.rs:162-168
        raise ValueError(
            f"vector_size {n} not divisible by num_divisions {cfg.num_divisions}"
        )
    return n


def assemble_index(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    cfg: IndexConfig | None = None,
    dim_perm=None,
) -> IndexModel:
    """Encode ``df`` against PRE-TRAINED models (B6+B9 only — skips
    training). The 100 TB shape: train the centroids/codebooks ONCE on a
    representative sample (or reuse them from an existing index via
    ``load_index``), then encode any number of shards or later arrivals
    with the same models — one Arrow-batched map pass per shard, no
    training scans. Also the determinism hook: with fixed models the
    whole build→store→query lifecycle is oracle-recomputable
    (FIXTURES.md F3; reference behavior /root/reference/src/db/stored.rs:331-389).
    """
    cfg = cfg or IndexConfig()
    centroids = np.asarray(centroids, dtype=np.float64)
    codebooks = np.asarray(codebooks, dtype=np.float64)
    p_cfg, d_cfg, c_cfg = cfg.num_partitions, cfg.num_divisions, cfg.num_codes
    # the vector width comes from the TRAINED models, not a probe job
    # over ``df`` (r12 — the former `_vector_size` first() cost one
    # Spark job per assemble on data the models already pin): a df
    # whose vectors disagree with the models still fails loudly, inside
    # the encode kernel's matmul, on the first batch.
    if centroids.ndim != 2 or centroids.shape[0] != p_cfg:
        raise ValueError(
            f"centroids shape {centroids.shape} != ({p_cfg}, N)"
        )
    n = int(centroids.shape[1])
    if n % cfg.num_divisions != 0:
        # invariant of the reference: src/vector.rs:162-168
        raise ValueError(
            f"vector_size {n} not divisible by num_divisions "
            f"{cfg.num_divisions}"
        )
    if codebooks.shape != (d_cfg, c_cfg, n // d_cfg):
        raise ValueError(
            f"codebooks shape {codebooks.shape} != "
            f"({d_cfg}, {c_cfg}, {n // d_cfg})"
        )
    if dim_perm is not None:
        perm = np.asarray(dim_perm, dtype=int)
        if sorted(perm.tolist()) != list(range(n)):
            raise ValueError(f"dim_perm is not a permutation of 0..{n - 1}")
    attr_cols = [c for c in df.columns if c not in (cfg.id_col, cfg.vec_col)]
    keep = [cfg.vec_col] if cfg.keep_vectors else []
    encode = pq_encoder_udf(
        df.sparkSession, centroids, codebooks, dim_perm=dim_perm
    )
    encoded = (
        df.select(
            cfg.id_col, encode(F.col(cfg.vec_col)).alias("__enc"), *attr_cols, *keep
        )
        .select(cfg.id_col, "__enc.partition_id", "__enc.codes", *attr_cols, *keep)
        .persist()
    )
    return IndexModel(
        config=cfg,
        vector_size=n,
        num_vectors=encoded.count(),
        centroids=centroids,
        codebooks=codebooks,
        encoded=encoded,
        attr_cols=attr_cols,
        dim_perm=None
        if dim_perm is None
        else tuple(int(x) for x in dim_perm),
    )


def build_index(
    df: DataFrame,
    cfg: IndexConfig | None = None,
    on_event=None,
) -> IndexModel:
    """Build an IVF+PQ index over ``df`` (must contain cfg.id_col and
    cfg.vec_col; every other column becomes an attribute column).

    ``on_event(stage: str, seconds: float)`` mirrors the reference's
    build event callbacks (/root/reference/src/db/build.rs:132-153 —
    SURVEY.md §2.3 maps them to instrumentation): fired after each of
    ``sample``, ``train``, ``encode`` with the stage wall-clock; the
    durations are also recorded on ``model.stage_seconds``."""
    import time as _time

    stage_seconds: dict[str, float] = {}

    def _mark(stage: str, t0: float) -> float:
        dt = _time.perf_counter() - t0
        stage_seconds[stage] = round(dt, 3)
        if on_event is not None:
            on_event(stage, dt)
        return _time.perf_counter()

    cfg = cfg or IndexConfig()
    n = _vector_size(df, cfg)
    attr_cols = [c for c in df.columns if c not in (cfg.id_col, cfg.vec_col)]

    t0 = _time.perf_counter()
    sample = _sample_to_driver(df, cfg)
    t0 = _mark("sample", t0)
    if cfg.coarse == "mllib":
        centroids = _train_mllib_coarse(df, cfg)
        labels = np.argmin(
            (centroids**2).sum(axis=1)[None, :] - 2.0 * (sample @ centroids.T),
            axis=1,
        )
        residuals = sample - centroids[labels]
        d, w = cfg.num_divisions, n // cfg.num_divisions
        perm = None
        if cfg.balance_dims:
            perm = variance_balanced_permutation(residuals, d)
            residuals = residuals[:, perm]
        codebooks = np.empty((d, cfg.num_codes, w), dtype=np.float64)
        for di in range(d):
            centers, _ = kmeans_fit(
                residuals[:, di * w : (di + 1) * w],
                cfg.num_codes,
                seed=cfg.seed + 1000 + di,
                max_iter=cfg.max_iter,
                tol=cfg.tol,
            )
            codebooks[di] = centers
    else:
        centroids, codebooks, perm = _train_sample(sample, cfg, n)
    t0 = _mark("train", t0)

    keep = [cfg.vec_col] if cfg.keep_vectors else []
    encode = pq_encoder_udf(df.sparkSession, centroids, codebooks, dim_perm=perm)
    encoded = (
        df.select(
            cfg.id_col, encode(F.col(cfg.vec_col)).alias("__enc"), *attr_cols, *keep
        )
        .select(cfg.id_col, "__enc.partition_id", "__enc.codes", *attr_cols, *keep)
        .persist()
    )
    num_vectors = encoded.count()
    _mark("encode", t0)
    model = IndexModel(
        config=cfg,
        vector_size=n,
        num_vectors=num_vectors,
        centroids=centroids,
        codebooks=codebooks,
        encoded=encoded,
        attr_cols=attr_cols,
        stage_seconds=stage_seconds,
        dim_perm=None if perm is None else tuple(int(x) for x in perm),
    )
    return model
