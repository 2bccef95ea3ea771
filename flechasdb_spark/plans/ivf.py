"""Two-phase IVF+PQ ANN query (reference Q1-Q5, SURVEY.md §3.2/§4).

Phase 1 (driver, tiny data): for a batch of Q query vectors
- exact distances to the P centroids -> nprobe probed partitions per
  query (Q1; the IVF analogue of dynamic partition pruning),
- localized query v - centroid per probe and the ADC distance table
  T[probe, d, c] = ||localized_d - codebook[d][c]||^2 (Q2).

Phase 2 (executors): scan ONLY the probed Parquet partitions (a literal
``partition_id IN (...)`` — partition pruning == the reference's lazy
partition load, S3) and score every encoded vector
dist = sum_d T[probe, d, codes[d]] (Q3) in one scan core, `_scored`,
by either of two plans that return the same bits, picked from the
query alone. The sql plan joins the probe table (query_id,
partition_id, T) — built on the driver as an Arrow LocalRelation, so it
needs no Python worker — and gathers with one codegen'd Catalyst
expression; a small query runs that join and its top-k as one task, a
larger one broadcasts the probe table. The kernel broadcasts T to one
mapInPandas NumPy pass that cuts each Arrow batch to the rows the
result can use. Every public form is `_tail` over that core, the one
tail the SQ and BQ families share (FAISS's IndexIVF /
InvertedListScanner split): per-query top-k via ``row_number``, which
Spark executes with WindowGroupLimit — partial top-k before the shuffle
(Q4+Q5, the reference's NBest merge) — a radius filter, and the exact
re-rank.

A query under `_DRIVER_MAX_PAIRS` estimated pairs, with no ``where``,
``rerank`` or ``round_to``, on a store opened with `load_index` from
``file:``, runs no Spark job at all (`_driver_served`), as the reference
serves a query in one process (src/db/stored.rs:331-389): the driver
reads the probed cells' files from Spark's own listing with pyarrow,
scores each file once for all of its probing queries with the kernel's
NumPy fold and pre-cut, cuts the tail in NumPy and returns the rows as
one LocalRelation — the Spark plans' rows, bit for bit.

Scale: probe list and ADC tables are O(Q * nprobe * D * C) — broadcast;
the scan shuffles only k rows per (query, partition). The reference's
async I/O-overlap machinery (A1) is Spark task parallelism.
"""

from __future__ import annotations

import re
import time
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from flechasdb_spark.functions.linalg import (
    lit_double_matrix,
    lit_doubles,
    lit_longs,
    squared_l2,
)
from flechasdb_spark.operators.build import IndexModel

__all__ = [
    "ann_query",
    "ann_range_query",
    "ann_range_query_batch",
    "select_probes",
    "select_probes_df",
    "ivf_assign",
    "ivf_flat_query",
]


import weakref

# Plan-CONSTRUCTION memo, not result caching (r13, guide §7.3 driver
# round-trips): keyed WEAKLY on the live centroid DataFrame OBJECT, it
# holds the collected O(P) centroid rows and the argmin Column built
# from them, so a lifecycle that encodes several shards against ONE
# centroid table (merge/upsert/rebalance: 2-3 ivfsq_residuals calls per
# plan build) collects once and builds the expression once. Entries die
# with the DataFrame; every bench repetition constructs fresh DataFrames,
# so nothing persists across runs or reps — the collect still happens
# inside every timed execution. (Caveat shared with Spark's own
# file-index caching: re-collecting the SAME DataFrame object after its
# underlying files were rewritten was never well-defined.) `load_index`
# marks the encoded frame it returns with its packing mode ("packed"),
# and `_store_cells` keeps that frame's file listing beside it.
_PLAN_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _df_memo(df: DataFrame) -> dict:
    d = _PLAN_MEMO.get(df)
    if d is None:
        d = {}
        _PLAN_MEMO[df] = d
    return d


def _small_centroid_rows(
    centroids: DataFrame, pid_col: str, cent_col: str
):
    """ALL (pid, centroid) rows when the table is literal-sized, else
    None (huge-P fallback). One tiny job: ``limit(cap + 1)`` bounds
    what ever reaches the driver, and getting cap + 1 rows back (or a
    P x dim element count past the budget) means the table is too big
    for a plan literal — the caller keeps the broadcast-join form.
    A non-integral id column also returns None (ADVICE r12: the
    literal path coerces ids through int(), which would raise — or
    reorder ties — where the broadcast-join form worked), so the
    relational fallback keeps its exact semantics."""
    import os as _os

    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    max_elems = int(
        _os.environ.get("SPARK_GRAFT_ASSIGN_LITERAL_MAX", "65536")
    )
    memo = _df_memo(centroids)
    # the env budget is part of the key: tests flip it as a kill switch
    key = ("rows", pid_col, cent_col, max_elems)
    if key in memo:
        return memo[key]
    rows = None
    if isinstance(
        centroids.schema[pid_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        cap = min(max_elems, 4096)
        rows = centroids.select(pid_col, cent_col).limit(cap + 1).collect()
        if (
            not rows
            or len(rows) > cap
            or len(rows) * len(rows[0][cent_col]) > max_elems
        ):
            rows = None
    memo[key] = rows
    return rows


def _let(value, body):
    """Single-evaluation let-binding for expression trees: bind
    ``value`` to a higher-order-function lambda variable so ``body``
    can reference it any number of times while it is evaluated ONCE
    per row. Plain column expressions have no sharing — every
    reference duplicates the tree, and project-collapse can duplicate
    even single-use aliases past a passthrough (measured on the cosine
    fixture: the interpreted normalize() ran twice per row). A lambda
    variable is the one Catalyst construct with guaranteed
    evaluate-once semantics."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _cent_array_lit(rows):
    """The collected centroid vectors as ONE array<array<double>> plan
    literal, positionally aligned with ``rows`` (r13: built row-wise
    from numpy arrays — O(P) py4j calls and plan nodes instead of
    O(P x dim), see `lit_double_matrix`; values bit-identical)."""
    return lit_double_matrix([r[1] for r in rows])


def _assign_best_expr(
    rows, vec_col: str, carry_index: bool = False, pid_type: str = "int"
):
    """struct(d, p[, i]) of the nearest centroid as a PURE map
    expression: the P centroids ride as two plan literals (ids +
    vectors), per-row distance is the same `squared_l2` double fold the
    relational form computes, and `array_min` over struct(d, p, ...) is
    the identical (dist asc, pid asc) tie-break as
    ``min(struct(d, p))`` — pid is unique, so trailing fields never
    participate. ``carry_index`` adds the centroid's literal POSITION
    so callers can fetch the winning vector with one ``element_at``
    instead of copying the full centroid array into every candidate
    struct (measured: carrying the array cost ~0.3-0.5 s per corpus
    evaluation at bench scale — P x dim doubles materialized per row
    just to keep the winner's). ``pid_type`` is the centroid table's
    actual id dtype (ADVICE r12: the former hardcoded int cast could
    truncate bigint ids and made the literal path's output schema
    diverge from the relational fallback's)."""
    pids_lit = lit_longs([r[0] for r in rows])
    cents_lit = _cent_array_lit(rows)

    def _lam(c, i):
        fields = [
            squared_l2(F.col(vec_col), c).alias("d"),
            F.element_at(pids_lit, i + 1).cast(pid_type).alias("p"),
        ]
        if carry_index:
            fields.append(i.alias("i"))
        return F.struct(*fields)

    return F.array_min(F.transform(cents_lit, _lam))


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pid_col: str = "partition_id",
    cent_col: str = "centroid",
    impl: str = "auto",
) -> DataFrame:
    """B6 (coarse assignment): nearest centroid per vector.

    ``impl="auto"`` (r12, guide §2.4 "remove shuffles outright"): when
    the centroid table is driver-small (P x dim under
    $SPARK_GRAFT_ASSIGN_LITERAL_MAX elements, default 65536), collect
    it ONCE (O(P) rows — the same driver footprint `select_probes`
    already assumes) and compute the argmin as a map-only codegen
    expression over a plan literal: the corpus is never shuffled and
    the broadcast exchange disappears. Distances, fold order and the
    (dist asc, pid asc) tie-break are IDENTICAL to the relational form
    (equality pytest-gated), so results are unchanged.

    ``impl="relational"`` keeps the former shape — broadcast join +
    per-vector argmin as a ``min(struct(dist, pid))`` aggregation
    (map-side combine collapses the P-way blowup before the shuffle,
    so the exchange carries one row per vector) — and is the automatic
    fallback when the centroid table is too large for a literal
    (huge-P indexes: P ~ sqrt(M)). Oracle-checkable with any fixed
    centroid table; the sample-trained fused path in
    operators/build.py is the production variant."""
    if impl not in ("auto", "literal", "relational"):
        raise ValueError(f"unknown impl: {impl!r}")
    other_cols = [c for c in vectors.columns if c != id_col]
    if impl != "relational":
        rows = _small_centroid_rows(centroids, pid_col, cent_col)
        if rows is None and impl == "literal":
            raise ValueError(
                "centroid table too large for impl='literal' — raise "
                "SPARK_GRAFT_ASSIGN_LITERAL_MAX or use impl='relational'"
            )
        if rows is not None:
            pid_type = centroids.schema[pid_col].dataType.simpleString()
            memo = _df_memo(centroids)
            bkey = ("assign_best", vec_col, pid_type)
            best = memo.get(bkey)
            if best is None:
                # Column expressions are immutable and resolve by name,
                # so the SAME argmin expression serves every shard
                # encoded against this centroid table (construction is
                # hundreds of py4j round-trips — see _PLAN_MEMO note)
                best = _assign_best_expr(rows, vec_col, pid_type=pid_type)
                memo[bkey] = best
            return vectors.select(
                id_col, *other_cols, best["p"].alias(pid_col)
            )
    pairs = vectors.join(F.broadcast(centroids))
    dist = squared_l2(F.col(vec_col), F.col(cent_col))
    return (
        pairs.groupBy(id_col)
        .agg(
            F.min(F.struct(dist.alias("d"), F.col(pid_col).alias("p"))).alias(
                "__m"
            ),
            *[F.first(c).alias(c) for c in other_cols],
        )
        .select(id_col, *other_cols, F.col("__m.p").alias(pid_col))
    )


def ivf_flat_query(
    vectors: DataFrame,
    centroids: DataFrame,
    query_vector: list[float],
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """IVF-Flat search, fully relational (Q1 + S3 + Q3-exact + Q4/Q5):
    probe the nprobe nearest centroids, scan only vectors assigned to the
    probed partitions, exact distance within candidates, global top-k.

    Assignment is computed inline here (so the whole query is
    oracle-checkable end to end); the probe cut is a LITERAL isin from
    the collected O(nprobe) probe ids — on an index at rest
    partitioned by partition_id the same literal lands in the Parquet
    PartitionFilters (a lazy probe-DataFrame semi-join never does —
    DPP doesn't fire on that shape; see plans/ivfsq.py r8 note)."""
    from flechasdb_spark.operators.knn import flat_knn

    probe_ids = [
        int(r["partition_id"])
        for r in flat_knn(
            centroids,
            query_vector,
            k=nprobe,
            id_col="partition_id",
            vec_col=cent_col_name(centroids),
        ).collect()
    ]
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    candidates = assigned.where(F.col("partition_id").isin(probe_ids))
    qv = lit_doubles(query_vector).cast("array<float>")
    dist = squared_l2(F.col(vec_col), qv)
    out = (
        candidates.select(
            F.col(id_col),
            F.col("partition_id"),
            dist.alias("__d"),
        )
        .orderBy(F.col("__d").asc(), F.col(id_col).asc())
        .limit(k)
    )
    score = F.round(F.col("__d"), round_to) if round_to is not None else F.col("__d")
    return out.select(id_col, "partition_id", score.alias("squared_distance"))


def cent_col_name(centroids: DataFrame) -> str:
    return "centroid" if "centroid" in centroids.columns else centroids.columns[-1]


def _driver_frame(spark, columns: dict, schema=None) -> DataFrame:
    """A driver-built table (probe lists, ADC tables, query vectors,
    driver-served results) as ONE Arrow table, column type from the
    NumPy dtype (int64 -> long, int32 -> int, float64 -> double, float32
    -> float) or from ``schema`` (a StructType, nullability included)
    when given, and nesting from the shape: (n, m) is array<T>, (n, m,
    l) array<array<T>>. Spark
    keeps a table under spark.sql.execution.arrow.localRelationThreshold
    (48 MB) as a LocalRelation, so its broadcast collects rows already
    in the JVM — a list of Python rows becomes a pickled RDD, and its
    broadcast starts Python workers to unpickle them. Float32 columns round exactly as Spark's own
    double -> float conversion of those rows did (IEEE nearest-even)."""
    import pyarrow as pa

    arrays = []
    for v in columns.values():
        v = np.ascontiguousarray(v)
        arr = pa.array(v.reshape(-1))
        for axis in range(v.ndim - 1, 0, -1):
            outer = int(np.prod(v.shape[:axis]))
            offsets = np.arange(outer + 1, dtype=np.int32) * v.shape[axis]
            arr = pa.ListArray.from_arrays(pa.array(offsets), arr)
        arrays.append(arr)
    return spark.createDataFrame(pa.table(arrays, names=list(columns)), schema)


def select_probes(
    model: IndexModel, queries: np.ndarray, nprobe: int
) -> tuple[np.ndarray, np.ndarray]:
    """Q1: per query, the nprobe nearest partitions by exact squared L2.

    Returns (probe_qidx [Q*nprobe], probe_pid [Q*nprobe]); errors when
    nprobe > P, matching /root/reference/src/db/stored.rs:403-409.
    A negative nprobe raises ValueError too.
    """
    p = model.centroids.shape[0]
    if nprobe > p:
        raise ValueError(f"nprobe {nprobe} exceeds num_partitions {p}")
    if nprobe < 0:
        raise ValueError(f"nprobe {nprobe} is negative")
    probed = _probe_fold(model.centroids, queries, nprobe)  # (Q, nprobe)
    q_idx = np.repeat(np.arange(queries.shape[0]), nprobe)
    return q_idx, probed.ravel()


def _probe_fold(
    centroids: np.ndarray, queries: np.ndarray, nprobe: int
) -> np.ndarray:
    """(Q, min(nprobe, P)) positions into the (P, N) ``centroids`` of
    each query's nearest centroids by exact squared L2, ties by
    position — the one driver-side probe fold of every family."""
    p = centroids.shape[0]
    # dimension-major accumulation (d2 += diff^2 per dim) — the exact
    # left-fold the engine's squared_l2 aggregate performs, so near-tie
    # centroid distances order IDENTICALLY to select_probes_df and
    # flat_knn over the centroid table (VERDICT r9 #7; the former algebraic
    # expansion ||c||^2 - 2 q.c could flip probed cells on ties because
    # its rounding path differs from the engine fold — parity is
    # tie-fixture-gated in tests/test_plans.py). ADVICE r10: the fold
    # runs in-place over ONE preallocated (chunk, P) buffer (np.subtract
    # /multiply/add with out=) instead of allocating a fresh (Q, P)
    # temporary per dimension, and queries are chunked so the working
    # set stays bounded at huge P — per-element FP op order (subtract,
    # square, add, in dimension order) is unchanged, so tie parity
    # holds bit-for-bit.
    q_n = queries.shape[0]
    scores = np.empty((q_n, p))
    # ~4M doubles (32 MB) per buffer; chunking across queries cannot
    # change any element's accumulation order (elements are independent)
    chunk = max(1, min(q_n, 4_000_000 // max(1, p)))
    buf = np.empty((chunk, p))
    for s in range(0, q_n, chunk):
        e = min(s + chunk, q_n)
        acc = scores[s:e]
        acc[:] = 0.0
        b = buf[: e - s]
        for j in range(queries.shape[1]):
            np.subtract(queries[s:e, j, None], centroids[None, :, j], out=b)
            np.multiply(b, b, out=b)
            np.add(acc, b, out=acc)
    return np.argsort(scores, axis=1, kind="stable")[:, :nprobe]


def _centroid_probes(
    centroids: DataFrame,
    qarr: np.ndarray,
    qids: list[int],
    nprobe: int,
    collect_centroids: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Probe selection over a (partition_id, centroid) DataFrame, for SQ,
    BQ and PQ's lazy-centroid mode: (probe_qidx, probe_pid,
    probe_centroid), one row per probe, query-major in probe order.

    ``collect_centroids=True`` collects the O(P) table once (no
    ``orderBy``: it would add a sampling job and a shuffle; the rows are
    sorted here, so ties break by partition_id) and runs `_probe_fold`.
    ``False`` runs the distributed `select_probes_df` job and collects
    only the O(Q * nprobe) winners, for a centroid table too large for
    the driver. Either way a query whose width is not the centroids'
    raises ValueError before any scan is planned, as does a negative
    ``nprobe``."""
    if nprobe < 0:
        raise ValueError(f"nprobe {nprobe} is negative")
    if collect_centroids:
        cc = cent_col_name(centroids)
        rows = sorted(
            centroids.select("partition_id", cc).collect(), key=lambda r: r[0]
        )
    else:
        qpos = {int(q): i for i, q in enumerate(qids)}
        rows = select_probes_df(centroids, qarr, nprobe, qids).collect()
        rows.sort(key=lambda r: (qpos[r.query_id], r.probe_rank))
    pids = np.array([r.partition_id for r in rows], dtype=np.int64)
    cents = np.array([r[-1] for r in rows], dtype=np.float64)
    cents = cents if len(rows) else np.empty((0, qarr.shape[-1]))
    if qarr.ndim != 2 or (len(cents) and qarr.shape[1] != cents.shape[1]):
        raise ValueError(
            f"query width {qarr.shape} != centroid width {cents.shape[-1]}"
        )
    if not collect_centroids:
        qidx = np.array([qpos[r.query_id] for r in rows], dtype=np.int64)
        return qidx, pids, cents
    pos = _probe_fold(cents, qarr, nprobe)
    qidx = np.repeat(np.arange(len(qarr)), pos.shape[1])
    return qidx, pids[pos.ravel()], cents[pos.ravel()]


def select_probes_df(
    centroids_df: DataFrame,
    queries: np.ndarray,
    nprobe: int,
    query_ids: list[int] | None = None,
) -> DataFrame:
    """Q1 as a DISTRIBUTED job, for indexes whose centroid table is too
    large to collect (P ~ sqrt(M) reaches ~3e5 x 1536 floats ≈ 2 GB at
    M = 1e11 — SCALING.md's one driver-side Phase-1 assumption).

    The Q queries (always the small side) are broadcast against the
    centroid table; per-(query, centroid) exact squared L2, then
    per-query top-nprobe via ``row_number`` — Spark executes the window
    with WindowGroupLimit, so each scan task forwards at most nprobe
    rows per query to the exchange: the shuffle carries O(Q * nprobe *
    tasks), never O(Q * P). Tie-break (distance asc, partition_id asc)
    matches ``select_probes``'s stable argsort.

    Returns (query_id, partition_id, probe_rank, centroid): O(Q*nprobe)
    rows — the only part of the centroid table Phase 2 ever needs,
    because the ADC tables are built from probed centroids only.
    Reference Q1: /root/reference/src/db/stored.rs:394-442.
    """
    qarr = np.asarray(queries, dtype=np.float64)
    qids = query_ids if query_ids is not None else range(len(qarr))
    qdf = _driver_frame(
        centroids_df.sparkSession,
        {"query_id": np.asarray(qids, dtype=np.int64), "__qv": qarr},
    )
    cent = cent_col_name(centroids_df)
    dist = squared_l2(F.col(cent).cast("array<double>"), F.col("__qv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("__d").asc(), F.col("partition_id").asc()
    )
    return (
        centroids_df.join(F.broadcast(qdf))
        .select("query_id", "partition_id", F.col(cent), dist.alias("__d"))
        .withColumn("probe_rank", F.row_number().over(w))
        .where(F.col("probe_rank") <= nprobe)
        .select(
            "query_id",
            "partition_id",
            "probe_rank",
            F.col(cent).alias("centroid"),
        )
    )


def _adc_tables(
    model: IndexModel,
    queries: np.ndarray,
    probe_qidx: np.ndarray,
    probe_centroids: np.ndarray,
) -> np.ndarray:
    """Q2: T[i, d, c] for each probe i = (query, partition) pair, from
    the (QP, N) probed centroids, built in chunks of probes whose (chunk,
    D, C, w) difference holds at most `_CHUNK_DOUBLES` doubles. Each
    chunk's einsum returns the unchunked einsum's bits (tested): its
    summation order over w follows the difference's memory layout, which
    a ``dim_perm`` gather makes probe-minor, so a chunk of a larger table
    holds at least two probes — one probe alone would be summed in
    another order."""
    d, c, w = model.codebooks.shape
    localized = queries[probe_qidx] - probe_centroids  # (QP, N)
    if model.dim_perm is not None:
        # OPQ-style split: codes quantize the PERMUTED residual, so the
        # ADC table must be built from the same reordering
        localized = localized[:, np.asarray(model.dim_perm, dtype=int)]
    sub = localized.reshape(-1, d, w)  # (QP, D, w)
    n = len(sub)
    tables = np.empty((n, d, c), np.result_type(sub, model.codebooks))
    step = max(1, _CHUNK_DOUBLES // (d * c * w))
    chunks = max(1, min(-(-n // step), n // 2))
    bounds = [n * i // chunks for i in range(chunks + 1)]
    for lo, hi in zip(bounds, bounds[1:]):
        # (chunk, D, C): sum over w of (sub - cb)^2
        diff = sub[lo:hi, :, None, :] - model.codebooks[None]
        tables[lo:hi] = np.einsum("qdcw,qdcw->qdc", diff, diff)
    return tables


def _phase1(
    model: IndexModel, qarr: np.ndarray, qids: list[int], nprobe: int, mark
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Phase 1 of every PQ serving path: probe selection, then the ADC
    tables. Probes come from `select_probes` when the centroids are on
    the driver, else (an index loaded with ``collect_centroids=False``,
    huge P) from the distributed `_centroid_probes` job, which collects
    only the O(Q * nprobe) probed centroids. Returns (probe_qidx,
    probe_pid, tables)."""
    if model.centroids is None:
        p = model.config.num_partitions
        if nprobe > p:
            raise ValueError(f"nprobe {nprobe} exceeds num_partitions {p}")
        probe_qidx, probe_pid, cent = _centroid_probes(
            model.centroids_source, qarr, qids, nprobe, collect_centroids=False
        )
    else:
        probe_qidx, probe_pid = select_probes(model, qarr, nprobe)
        cent = model.centroids[probe_pid]
    mark("select_probes")
    tables = _adc_tables(model, qarr, probe_qidx, cent)
    mark("adc_tables")
    return probe_qidx, probe_pid, tables


def _adc_score(d: int) -> str:
    """The ADC gather dist = sum_d tbl[d][codes[d]] as ONE SQL expression
    (a single py4j round-trip to build): the left fold from 0.0 in
    division order, unrolled over the D divisions, so every sum is
    reproducible exactly outside Spark (tested). Unrolled, it is plain
    array access and addition inside whole-stage codegen; the
    ``aggregate(zip_with(...))`` form of the same fold runs interpreted."""
    terms = "".join(f" + __tbl[{i}][codes[{i}]])" for i in range(d))
    return "(" * d + "0D" + terms


# Bound on the estimated (probe, candidate) pair count, Q * nprobe * rows
# per cell, under which `_sql_scored` serves a query as one task. Below
# it the fixed cost of the broadcast job and the top-k shuffle outweighs
# scoring in parallel; the two plans cross between 35k and 40k pairs
# (see `ann_query`), and the bound stays below that.
_SINGLE_TASK_MAX_PAIRS = 32_000


# Bound on the same estimated pair count under which `_search` serves an
# unfiltered query on a loaded store on the driver (`_driver_served`).
# Measured against the kernel and the broadcast sql plan up to 10M pairs
# (see `ann_query`), the driver was faster at every size, so the bound is
# a driver-memory budget: pairs are at least the rows read, and the rows
# the pre-cut keeps, 28 B each, at most the pairs (about 120 MB here).
_DRIVER_MAX_PAIRS = 1 << 22


# ADC-table doubles, Q * nprobe * D * C, from which `_scored` runs the
# NumPy kernel instead of the sql plan (see `ann_query` for why it
# sits below the warm crossover).
_KERNEL_MIN_DOUBLES = 100_000


def _query_ids(ids, n: int) -> list[int]:
    """``ids`` as ints, checked to be one per query and all distinct:
    two queries sharing an id would share one top-k window partition and
    get the top-k of their union, so either fault raises ValueError."""
    qids = [int(q) for q in ids]
    if len(qids) != n:
        raise ValueError(f"{len(qids)} query ids for {n} queries")
    if len(set(qids)) != n:
        raise ValueError("duplicate query ids")
    return qids


def _query_batch(
    model: IndexModel, queries, query_ids
) -> tuple[list[int], np.ndarray]:
    """(query ids, (Q, N) float64 array) of an ``ann_*`` batch given as
    [(query_id, vector), ...] or an array with ``query_ids``. An empty
    batch, list or (0, N) array, is Q = 0 and skips the width check."""
    if isinstance(queries, np.ndarray):
        qarr = queries.astype(np.float64)
        ids = query_ids if query_ids is not None else range(len(qarr))
    else:
        ids = [q[0] for q in queries]
        qarr = np.array([q[1] for q in queries], dtype=np.float64)
    qids = _query_ids(ids, len(qarr))
    if qids and (qarr.ndim != 2 or qarr.shape[1] != model.vector_size):
        raise ValueError(
            f"query width {qarr.shape} != vector_size {model.vector_size}"
        )
    return qids, qarr


def _probed_rows(model, probe_pid, where) -> DataFrame:
    """The ``model.encoded`` rows (PQ, SQ or BQ) of the probed cells
    only: the literal ``partition_id IN (...)`` lands in the Parquet
    PartitionFilters of an index at rest, so only probed directories are
    read (S3); ``where`` then pre-filters candidates BEFORE scoring.
    No probes (nprobe=0) select no rows."""
    probed = ", ".join(str(int(p)) for p in np.unique(probe_pid)) or "NULL"
    rows = model.encoded.where(f"partition_id IN ({probed})")
    return rows.where(where) if where is not None else rows


def _sql_scored(
    model: IndexModel,
    candidates: DataFrame,
    qids: list[int],
    probe_qidx: np.ndarray,
    probe_pid: np.ndarray,
    tables: np.ndarray,
) -> DataFrame:
    """The sql plan: (query_id, id, partition_id, __score) for every
    (probing query, candidate) pair. The probe table — one (query_id,
    partition_id, D x C ADC table) row per probe — is an Arrow
    LocalRelation (`_driver_frame`) joined to the candidates on
    partition_id without Python workers; the gather is a pure Catalyst
    expression inside whole-stage codegen, no Python in the scan. The
    select right after the join keeps the ~8 KB table (and the codes)
    off every later exchange: only 4 small columns survive scoring.

    A small query (estimated pairs, probes x rows per cell, under
    `_SINGLE_TASK_MAX_PAIRS`) puts both sides in ONE partition and
    hash-joins them there: with a single partition on each side Spark
    plans no broadcast and no exchange, so this join, the top-k window
    and the collect run as one job of one task. A larger query
    broadcasts the probe table into the parallel scan."""
    id_col = model.config.id_col
    probes = _driver_frame(
        candidates.sparkSession,
        {
            "query_id": np.asarray(qids, dtype=np.int64)[probe_qidx],
            "partition_id": np.asarray(probe_pid, dtype=np.int32),
            "__tbl": tables,
        },
    )
    if _pairs(model, len(probe_pid)) < _SINGLE_TASK_MAX_PAIRS:
        joined = candidates.coalesce(1).join(
            probes.coalesce(1).hint("shuffle_hash"), "partition_id"
        )
    else:
        joined = candidates.join(F.broadcast(probes), "partition_id")
    return joined.selectExpr(
        "query_id",
        f"`{id_col}`",
        "partition_id",
        f"{_adc_score(model.config.num_divisions)} AS __score",
    )


def _pairs(model: IndexModel, n_probes: int) -> float:
    """The estimated (probe, candidate) pairs of ``n_probes`` probes,
    probes x rows per cell: what `_SINGLE_TASK_MAX_PAIRS` and
    `_DRIVER_MAX_PAIRS` bound."""
    return n_probes * model.num_vectors / model.config.num_partitions


def _store_cells(model: IndexModel) -> dict | None:
    """{partition_id: [local paths]} of the files Spark's scan of
    ``model.encoded`` lists, memoised per frame, when that frame is the
    one `load_index` returned for a ``file:`` store; else None."""
    memo = _PLAN_MEMO.get(model.encoded)
    if memo is None or "packed" not in memo:
        return None
    if "cells" not in memo:
        cells = {}
        for f in model.encoded.inputFiles():
            url = urlparse(f)
            cell = re.search(r"/partition_id=(\d+)/[^/]+$", url.path)
            if url.scheme != "file" or cell is None:
                cells = None
                break
            cells.setdefault(int(cell.group(1)), []).append(unquote(url.path))
        memo["cells"] = cells
    return memo["cells"]


def _cell_codes(col, d: int, packed: str | None) -> np.ndarray:
    """(rows, D) codes of a pyarrow-read cell: the ``codes`` lists, or a
    packed store's ``codes_bin`` decoded as `unpack_codes_expr` does: hex
    digit i is code i, so a "nibble" byte holds two codes, high first.
    Every ``codes_bin`` value has the same width, so the values are one
    slice of the Arrow value buffer, viewed without a Python object per
    row."""
    arr = col.combine_chunks()
    if packed is None:
        return arr.flatten().to_numpy().reshape(len(arr), d)
    width = d if packed == "byte" else (d + 1) // 2
    if not len(arr):
        return np.empty((0, d), np.uint8)
    _, offsets, values = arr.buffers()
    wide = arr.type.equals("large_binary")
    bounds = np.frombuffer(offsets, np.int64 if wide else np.int32)
    first, last = bounds[arr.offset], bounds[arr.offset + len(arr)]
    b = np.frombuffer(values, np.uint8)[first:last].reshape(len(arr), width)
    if packed == "nibble":
        b = np.stack([b >> 4, b & 15], axis=-1).reshape(len(col), -1)
    return b[:, :d]


def _driver_served(
    model: IndexModel, cells: dict, qids, qarr, nprobe, cut, radius, solo,
    rank, mark,
) -> DataFrame:
    """`_search`'s unfiltered, unrounded sql result computed on the
    driver, as the reference serves a query in one process: pyarrow
    reads ``id`` and ``codes`` of the probed cells' listed ``cells``
    files, `_cell_hits` scores each file once for all of its probing
    queries and keeps the kernel's per-probe pre-cut, and NumPy cuts
    each query's rows sorted by (score, id) to rank <= ``cut`` and
    score <= ``radius``. The rows, their order and the schema are the
    Spark plans'; the result is one LocalRelation, so collecting it runs
    no Spark job. A listed file gone since the listing raises, as
    Spark's scan of it does."""
    import pyarrow.parquet as pq

    probe_qidx, probe_pid, tables = _phase1(model, qarr, qids, nprobe, mark)
    id_col, d = model.config.id_col, model.config.num_divisions
    packed = _df_memo(model.encoded)["packed"]
    qid = np.asarray(qids, dtype=np.int64)[probe_qidx]
    # (query_id, id, partition_id, score) per (cell, file), from no rows
    found = [(np.empty(0, np.int64),) * 2 + (np.empty(0, np.int32), np.empty(0))]
    for pid in np.unique(probe_pid):
        pis = np.flatnonzero(probe_pid == pid)
        for f in cells.get(int(pid), ()):
            t = pq.read_table(f, columns=[id_col, "codes_bin" if packed else "codes"])
            ids = t.column(0).to_numpy()
            codes = _cell_codes(t.column(1), d, packed)
            p, r, s = _cell_hits(tables, pis, codes, cut, radius, 0.0)
            found.append((qid[pis[p]], ids[r], np.full(len(r), pid, np.int32), s))
    q, ids, pids, s = (np.concatenate(c) for c in zip(*found))
    order = np.lexsort((ids, s, q))
    q, ids, pids, s = q[order], ids[order], pids[order], s[order]
    ranks = (np.arange(len(q)) - np.searchsorted(q, q) + 1).astype(np.int32)
    keep = ranks <= (np.inf if cut is None else cut)
    keep &= s <= (np.inf if radius is None else radius)
    cols = [
        *([] if solo else [("query_id", q, LongType())]),
        ("vector_id", ids, model.encoded.schema[id_col].dataType),
        ("partition_id", pids, IntegerType()),
        ("squared_distance", s, DoubleType()),
        *([("rank", ranks, IntegerType())] if rank else []),
    ]
    return _driver_frame(
        model.encoded.sparkSession,
        {n: v[keep] for n, v, _ in cols},
        StructType([StructField(n, t, n != "rank") for n, _, t in cols]),
    )


def _score_sql(round_to: int | None) -> str:
    """``__score`` as SQL, rounded when ``round_to`` is set."""
    return f"round(__score, {int(round_to)})" if round_to is not None else "__score"


def _nearest(
    df: DataFrame, n, round_to: int | None, id_col: str, solo: bool
) -> DataFrame:
    """The ``n`` nearest rows of each query by (rounded ``__score``,
    id). A solo query is an ordered limit (TakeOrderedAndProject); with
    ``n`` None it is all rows, gathered to one partition and sorted
    there, which skips a global sort's range-sampling pass over the
    scan. A batch adds ``rank``, a row_number over query_id kept to
    rank <= ``n``, which Spark runs as WindowGroupLimit: a partial
    top-k before the shuffle (Q4+Q5, the reference's NBest merge).
    Ranking on the rounded score when the caller asks for rounded
    output keeps a sub-rounding float divergence from flipping the
    selected ids against the oracle."""
    if not solo:
        return df.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id ORDER BY "
            f"{_score_sql(round_to)} ASC, `{id_col}` ASC) AS rank",
        ).where(f"rank <= {int(n)}")
    order = (F.expr(_score_sql(round_to)), F.col(id_col))
    if n is None:
        return df.repartition(1).sortWithinPartitions(*order)
    return df.orderBy(*order).limit(int(n))


def _exact(
    rerank: DataFrame,
    survivors: DataFrame,
    id_col: str,
    qids: list[int],
    qarr: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """The shared exact re-score of every family: ``survivors``
    (query_id, id_col, partition_id) broadcast into one join against the
    ORIGINAL vectors (id_col + ``vec_col``), each scored against its
    float64 query as ``__score``. A survivor absent from ``rerank`` is
    dropped (the FAISS refine-storage contract)."""
    qv = _driver_frame(
        rerank.sparkSession,
        {"query_id": np.asarray(qids, dtype=np.int64), "__qv": qarr},
    )
    return (
        rerank.select(id_col, vec_col)
        .join(
            F.broadcast(survivors.select("query_id", id_col, "partition_id")),
            id_col,
        )
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            "partition_id",
            squared_l2(F.col(vec_col), F.col("__qv")).alias("__score"),
        )
    )


def _tail(
    scored: DataFrame, qids, qarr, id_col: str, solo: bool, round_to,
    k=None, rerank_factor=4, radius=None, exact_radius=None, limit=None,
    rerank=None, vec_col: str = "embedding", rounded_scan: bool = True,
) -> DataFrame:
    """The serving tail of every IVF family over its scan core's
    (query_id, id_col, partition_id, __score[, __exact]) rows, returning
    (query_id, id_col, partition_id, __score[, rank]).

    Top-k (``k``) is `_nearest` on the (rounded) scan score; with
    ``rerank`` it keeps ``k * rerank_factor`` survivors, re-scores them
    exactly — `_exact` against a DataFrame of the original vectors, or
    the scan's own ``__exact`` for PQ's ``rerank="stored"`` — and takes
    the top-k of that. Radius gates the (rounded) scan score at
    ``radius``; with ``rerank`` the exact re-score is then gated at
    ``exact_radius``, and a solo query is ordered and ``limit`` caps
    each query to its nearest. ``rounded_scan=False`` keeps ``round_to``
    off the scan score (BQ's integer distances) and on the exact one."""
    adc_round = round_to if rounded_scan else None
    if k is not None:
        cut = int(k) * int(rerank_factor) if rerank is not None else k
        out = _nearest(scored, cut, adc_round, id_col, solo)
        if isinstance(rerank, str):
            out = out.selectExpr(
                "query_id", f"`{id_col}`", "partition_id", "__exact AS __score"
            )
        elif rerank is not None:
            out = _exact(rerank, out, id_col, qids, qarr, vec_col)
        if rerank is not None:
            out = _nearest(out, k, round_to, id_col, solo)
        return out
    out = scored.where(F.expr(_score_sql(adc_round)) <= radius)
    if rerank is not None:
        out = _exact(rerank, out, id_col, qids, qarr, vec_col).where(
            F.expr(_score_sql(round_to)) <= exact_radius
        )
    if solo or limit is not None:
        out = _nearest(out, limit, round_to, id_col, solo)
    return out


def _empty(model, id_col: str, score: str, rank: bool) -> DataFrame:
    """An empty batch's result of every family: (query_id,
    id_col, then ``score``, a schema string) and ``rank`` iff the
    non-empty path carries it."""
    id_type = model.encoded.schema[id_col].dataType.simpleString()
    return model.encoded.sparkSession.createDataFrame(
        [],
        f"query_id long, {id_col} {id_type}, {score}"
        + (", rank int" if rank else ""),
    )


def _left_fold(terms: np.ndarray) -> np.ndarray:
    """Row sums of an (n, m) array as the left fold from 0.0 in column
    order: the order of `_adc_score` and `squared_l2`, so every sum is
    bit-identical to theirs (``ndarray.sum`` adds pairwise)."""
    acc = np.zeros(len(terms))
    for col in terms.T:
        acc += col
    return acc


def _adc_sums(tables: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """(probes, rows) ADC distances of one cell's (rows, D) ``codes``
    against its probes' (probes, D, C) ``tables``: the gather of
    `_adc_score` summed as its left fold from 0.0, one division at a
    time for every probe at once, so each sum is bit-identical to the
    sql plan's."""
    acc = np.zeros((len(tables), len(codes)))
    for j in range(codes.shape[1]):
        acc += np.take(tables[:, j], codes[:, j], axis=1)
    return acc


# Doubles (8 MB) a driver-side NumPy temporary holds at once: the probes
# x rows score matrix of `_cell_hits`, the probes x D x C x w difference
# of `_adc_tables`
_CHUNK_DOUBLES = 1 << 20


def _cell_hits(tables, pis, codes, cut, radius, slack):
    """(positions into ``pis``, row positions, scores) of the (probe,
    row) pairs of one cell's (rows, D) ``codes``, scored by `_adc_sums`
    against the probes ``tables[pis]``, that can reach the result: ADC
    score <= ``radius`` and, with ``cut``, each probe's ``cut`` nearest
    plus their ties, both widened by ``slack``. Probe-major, rows in
    cell order. The one scorer and pre-cut of the kernel and the driver
    path; probes are scored in chunks of at most `_CHUNK_DOUBLES` pairs."""
    step = max(1, _CHUNK_DOUBLES // max(1, len(codes)))
    bound = np.inf if radius is None else radius + slack
    out = [(np.empty(0, np.int64),) * 2 + (np.empty(0),)]
    for lo in range(0, len(pis), step):
        s = _adc_sums(tables[pis[lo : lo + step]], codes)
        keep = s <= bound
        if cut and s.shape[1] > cut:
            inside = np.where(keep, s, np.inf)
            worst = np.partition(inside, cut - 1, axis=1)[:, cut - 1 : cut]
            keep &= s <= worst + slack
        p, r = np.nonzero(keep)
        out.append((p + lo, r, s[p, r]))
    return tuple(np.concatenate(c) for c in zip(*out))


def _kernel_scored(
    model: IndexModel, candidates: DataFrame, qids, qarr, probe_qidx,
    probe_pid, tables, cut, radius, slack, stored,
) -> DataFrame:
    """The kernel: `_sql_scored`'s rows, scored in NumPy by one
    mapInPandas pass with the ADC tables and probe lists broadcast. Per
    Arrow batch, cell and probing query it keeps only rows that can
    reach the result: ADC score <= ``radius`` and, with ``cut``, the
    ``cut`` nearest plus their ties. ``slack`` (twice the rounding unit)
    widens both tests, so whatever Spark's rounding decides downstream,
    no row the tail keeps is dropped here. ``stored`` adds ``__exact``,
    the squared L2 of each kept row's stored vector (``vec_col``) to
    its float64 query, for the fused re-rank."""
    id_col, vec_col = model.config.id_col, model.config.vec_col
    qidx = np.asarray(probe_qidx)
    qid = np.asarray(qids, dtype=np.int64)[qidx]
    # {partition_id: (query ids, query positions, probe positions)}
    by_pid = {}
    for pid in np.unique(probe_pid):
        pis = np.flatnonzero(probe_pid == pid)
        by_pid[int(pid)] = (qid[pis], qidx[pis], pis)
    shipped = candidates.sparkSession.sparkContext.broadcast(
        (tables, by_pid, qarr if stored else None)
    )

    def score(batches):
        t, probes, qv = shipped.value
        for pdf in batches:
            outs = []
            for pid, grp in pdf.groupby("partition_id"):
                if int(pid) not in probes:
                    continue
                query_id, qi, pis = probes[int(pid)]
                codes = np.vstack(grp["codes"].to_numpy())
                p, r, s = _cell_hits(t, pis, codes, cut, radius, slack)
                if not len(r):
                    continue
                cols = {
                    "query_id": query_id[p],
                    id_col: grp[id_col].to_numpy()[r],
                    "partition_id": int(pid),
                    "__score": s,
                }
                if qv is not None:
                    vecs = np.vstack(grp[vec_col].to_numpy()[r]).astype(np.float64)
                    diff = vecs - qv[qi[p]]
                    cols["__exact"] = _left_fold(diff * diff)
                outs.append(pd.DataFrame(cols))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    id_type = model.encoded.schema[id_col].dataType.simpleString()
    return candidates.select(
        id_col, "partition_id", "codes", *([vec_col] if stored else [])
    ).mapInPandas(
        score,
        f"query_id long, `{id_col}` {id_type}, partition_id int, "
        "__score double" + (", __exact double" if stored else ""),
    )


def _scored(
    model: IndexModel, qids, qarr, nprobe, where, stored, cut, radius,
    round_to, mark,
) -> DataFrame:
    """The scan core of every IVF+PQ serving path: (query_id, id_col,
    partition_id, __score[, __exact]), the ADC distance of each
    candidate in each query's probed cells, from either of two plans
    that sum the ADC gather (and ``__exact``) as the same left fold, so
    they return the same bits. A stored re-rank, or a query from
    `_KERNEL_MIN_DOUBLES` ADC-table doubles, runs the NumPy kernel,
    whose ``cut``/``radius`` pre-cut only drops rows the tail would
    drop; any other query runs the sql plan."""
    probe_qidx, probe_pid, tables = _phase1(model, qarr, qids, nprobe, mark)
    candidates = _probed_rows(model, probe_pid, where)
    if not stored and tables.size < _KERNEL_MIN_DOUBLES:
        return _sql_scored(
            model, candidates, qids, probe_qidx, probe_pid, tables
        )
    slack = 2.0 * 10.0 ** -round_to if round_to is not None else 0.0
    return _kernel_scored(
        model, candidates, qids, qarr, probe_qidx, probe_pid, tables, cut,
        radius, slack, stored,
    )


def _search(
    model: IndexModel, queries, query_ids, nprobe, round_to, where, rerank,
    solo=False, k=None, rerank_factor=4, radius=None, limit=None,
    rerank_slack=1.5, on_event=None,
) -> DataFrame:
    """Every public IVF+PQ serving form: `_tail` over `_scored`, as
    `plans.ivfbq._search` and `plans.ivfsq._search` are for BQ and SQ.
    A radius query with ``rerank`` gates the scan at ``radius *
    rerank_slack``. The result is (vector_id, partition_id,
    squared_distance) for a solo query, else (query_id, vector_id,
    partition_id, squared_distance[, rank]); an empty batch returns that
    schema. A query under `_DRIVER_MAX_PAIRS` with none of ``where``,
    ``rerank`` and ``round_to`` on a loaded store is `_driver_served`."""
    id_col, vec_col = model.config.id_col, model.config.vec_col
    qids, qarr = _query_batch(model, queries, query_ids)
    stored = isinstance(rerank, str)
    if stored:
        if rerank != "stored":
            raise ValueError(f"unknown rerank mode: {rerank!r}")
        if k is None:
            raise ValueError("rerank='stored' serves top-k queries only")
        if vec_col not in model.encoded.columns:
            raise ValueError(
                "rerank='stored' needs the original vectors on the encoded "
                "rows — build with IndexConfig(keep_vectors=True)"
            )
    rank = not solo and (k is not None or limit is not None)
    if not qids:
        return _empty(
            model, id_col, "partition_id int, squared_distance double", rank
        ).withColumnRenamed(id_col, "vector_id")
    started = [time.perf_counter()]

    def mark(stage: str) -> None:
        if on_event is not None:
            on_event(stage, time.perf_counter() - started[0])
        started[0] = time.perf_counter()

    if k is not None:
        gate = None
        cut = int(k) * int(rerank_factor) if rerank is not None else int(k)
    else:
        cut = limit if rerank is None else None
        gate = float(radius)
        gate *= float(rerank_slack) if rerank is not None else 1.0
    driven = rerank is None and where is None and round_to is None
    if driven and _pairs(model, len(qids) * nprobe) < _DRIVER_MAX_PAIRS:
        cells = _store_cells(model)
        if cells is not None:
            out = _driver_served(
                model, cells, qids, qarr, nprobe, cut, gate, solo, rank, mark
            )
            mark("plan_built")
            return out
    scored = _scored(
        model, qids, qarr, nprobe, where, stored, cut, gate, round_to, mark
    )
    out = _tail(
        scored, qids, qarr, id_col, solo, round_to, k=k,
        rerank_factor=rerank_factor, radius=gate,
        exact_radius=None if radius is None else float(radius), limit=limit,
        rerank=rerank, vec_col=vec_col,
    ).selectExpr(
        *([] if solo else ["query_id"]),
        f"`{id_col}` AS vector_id",
        "partition_id",
        f"{_score_sql(round_to)} AS squared_distance",
        *(["rank"] if rank else []),
    )
    mark("plan_built")
    return out


def ann_query(
    model: IndexModel,
    queries: list[tuple[int, list[float]]] | np.ndarray,
    k: int,
    nprobe: int,
    query_ids: list[int] | None = None,
    round_to: int | None = None,
    where=None,
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    on_event=None,
) -> DataFrame:
    """Batch IVF+PQ kNN. ``queries``: [(query_id, vector), ...] or an
    (Q, N) array with ``query_ids``. Returns (query_id, vector_id,
    partition_id, squared_distance, rank) — the reference's QueryResult
    shape (/root/reference/src/db/build.rs:577-587) plus batch columns.
    An empty batch returns no rows with that schema. Query ids must be
    distinct and, given as ``query_ids``, one per query (else
    ValueError).

    ``where``: optional filtered-search predicate (Column or SQL string)
    over the index's attribute columns, applied to candidates BEFORE
    scoring — pre-filtering, so each query still returns up to k rows
    that all satisfy the predicate (no reference counterpart; free in
    Spark because attributes live on the encoded rows).

    The query alone picks how `_scored` computes the ADC sums, from two
    plans that fold them in the same order and so return bit-identical
    rows. A ``rerank="stored"`` query, or one of at least
    `_KERNEL_MIN_DOUBLES` (100k) ADC-table doubles, Q * nprobe * D * C,
    runs the NumPy kernel: whole Arrow batches scored via mapInPandas
    with the tables broadcast, each batch cut to the rows that can
    reach the result before the top-k shuffle. Any other query runs the
    sql plan, which gathers the ADC table with one pure Catalyst
    expression, an unrolled sum of array lookups inside whole-stage
    codegen; the Q * nprobe tables ride as an Arrow LocalRelation probe
    table joined to the pruned scan on partition_id without Python
    workers. The sql plan depends on the estimated pair count,
    Q * nprobe * num_vectors / num_partitions. Under
    `_SINGLE_TASK_MAX_PAIRS` (32k) both sides are coalesced to one
    partition and hash-joined: no broadcast, no shuffle, and the query
    is one Spark job of one task. At or above it the probe table is
    broadcast into the parallel scan and the top-k window shuffles
    k rows per (query, task). The bound sits below the measured
    crossover: at nprobe=4 on a 20k x 64 store (P=32, D=16, C=64,
    4-core host), the median request took 0.29 s single-task vs 0.32 s
    broadcast at 25k pairs, 0.30 vs 0.31 s at 35k, and 0.35 vs 0.34 s
    at 40k. `_KERNEL_MIN_DOUBLES` sits below the warm crossover of the
    two plans: warm, they crossed near 1,000 probes on the 20k x 64
    store above (1,024 doubles a probe; median of 6 alternating calls,
    Q=100 unless noted, sql vs kernel):
    0.69 vs 1.33 s at 100 probes, 0.69 vs 1.16 s at 400, 1.42 vs 1.58 s
    at 800 (Q=200), 1.33 vs 1.31 s at 1,200 (Q=300), 1.42 vs 1.28 s at
    1,600 and 4.05 vs 2.06 s at 4,096 (Q=1024). But a bound of 2^20
    doubles moved the cold nprobe=1 and 4 arms of perfbench's
    ingest-sweep sweep to sql, and that sweep then took longer in 3 of
    3 alternating pairs (median 8.7 vs 7.8 s), so the bound stays at
    100k, about 100 probes at D=16, C=64. On a loaded store those sweep
    arms (Q=100 at nprobe 1, 4 and 16) no longer reach either plan:
    they are under `_DRIVER_MAX_PAIRS` and served on the driver. The
    bound still picks the plan for filtered, rounded or re-ranked
    queries, for built models and above the driver bound.

    Driver path: a query under `_DRIVER_MAX_PAIRS` (2^22) estimated
    pairs, with no ``where``, ``rerank`` or ``round_to``, on the
    ``model.encoded`` that `load_index` returned for a ``file:`` store,
    runs no Spark job. The driver reads ``id``
    and ``codes`` of the probed cells' files, as Spark's scan of that
    frame lists them, with pyarrow, scores each file once for all of its
    probing queries with the kernel's NumPy left fold, keeps the
    kernel's per-probe pre-cut (the ``k`` nearest plus ties, and the
    radius) and cuts the top-k in NumPy; the result is one LocalRelation
    holding the Spark plans' rows and schema, each query's rows in rank
    order. It is materialised when ``ann_query`` is called, not when an
    action runs on it, so a cell file removed after the model was loaded
    raises here, as Spark's scan raises at the action. Any other model,
    a built or derived one included, keeps the Spark plans. The bound is
    a driver-memory budget, not a crossover: on the 20k x 64 store above
    (k=10, median of 3 warm calls after one warm-up, 1 GB driver heap,
    4-core host; driver vs kernel vs broadcast sql) the driver was
    faster at every size measured: 0.039 vs 0.54 vs 0.30 s at 2.5k
    pairs (Q=1, nprobe=4), 0.084 vs 0.93 vs 0.55 s at 62.5k (Q=100,
    nprobe=1), 0.11 vs 0.83 vs 0.64 s at 250k (nprobe=4), 0.18-0.19 vs
    0.94-1.02 vs 1.16-1.25 s at 1M (nprobe=16), 0.56-0.57 vs 1.31-1.39
    vs 2.95-3.38 s at 2.56M (Q=1024, nprobe=4), and, forced past the
    bound, 0.69 vs 1.55 s at 4M (Q=200, nprobe=32), 0.94-0.97 vs
    1.62-2.01 s at 5.12M and 1.49 vs 2.23 s at 10.24M (Q=512,
    nprobe=32). Pairs are at least the rows read, and the rows the
    pre-cut keeps (28 B each) at most the pairs, so a radius query
    without a limit holds at most about 120 MB of them under the bound.

    ``on_event(stage, seconds)`` mirrors the reference's query event
    handlers (/root/reference/src/db/stored.rs:513-532): fired after the
    driver phases ``select_probes`` and ``adc_tables`` and after
    ``plan_built`` — instrumentation only. On the Spark plans the scan
    is lazy (time it at the action with Spark's UI/listeners); on the
    driver path ``plan_built`` includes the scan, scoring and top-k, so
    a caller timing plan and action (perfbench's ``ivf.plan_s`` and
    ``ivf.execute_s``) sees the plan grow and the action shrink.

    ``rerank``: optional DataFrame holding the ORIGINAL vectors
    (cfg.id_col, cfg.vec_col). When given, the top ``k * rerank_factor``
    ADC candidates per query are re-scored with the EXACT squared L2
    against the original vectors and the final top-k is by exact
    distance — the standard IVF+PQ refinement step that lifts recall
    from PQ-approximation levels to near-exact. Scale shape: the
    candidate set is O(Q * k * rerank_factor) rows — broadcast into one
    hash-join against the vector table (one scan, no shuffle of the big
    side); ``squared_distance`` then holds the exact distance.

    ``rerank="stored"``: FUSED refinement for indexes built with
    ``IndexConfig(keep_vectors=True)`` (original vectors stored on the
    encoded rows). The kernel computes the exact distance of the rows
    it keeps inside the SAME mapInPandas pass over the pruned
    partitions — no second table, no second scan, no join — so such a
    query always runs the kernel. The global ADC cut picks the same
    candidate set as the join form, and the exact distance is the same
    fold, so the rows are identical. This is the right shape when the
    re-rank source would otherwise be a full scan of the vector corpus.
    """
    return _search(
        model, queries, query_ids, nprobe, round_to, where, rerank, k=k,
        rerank_factor=rerank_factor, on_event=on_event,
    )


def ann_range_query_batch(
    model: IndexModel,
    queries: list[tuple[int, list[float]]] | np.ndarray,
    radius: float,
    nprobe: int,
    query_ids: list[int] | None = None,
    round_to: int | None = None,
    where=None,
    limit_per_query: int | None = None,
    rerank: DataFrame | None = None,
    rerank_slack: float = 1.5,
) -> DataFrame:
    """Batch RADIUS search over the IVF+PQ index — `ann_query`'s scan
    core with a FILTER tail instead of top-k (the FAISS
    ``IndexIVFPQ::range_search`` contract; the reference itself serves
    top-k only, /root/reference/src/db/stored.rs:331-389, so this is
    extension-surface parity with the SQ side's
    `plans.ivfsq.ivfsq_range_query_batch`): every candidate in each
    query's ``nprobe`` probed cells whose ADC distance is <= ``radius``.
    Returns ``(query_id, vector_id, partition_id, squared_distance)``
    plus ``rank`` when ``limit_per_query`` caps a pathological radius
    to each query's nearest matches.

    Probe selection, the huge-P lazy-centroid mode, the two plans, the
    driver path and the query-id checks are `ann_query`'s: a small
    query with no ``where``, ``rerank`` or ``round_to`` on a loaded
    ``file:`` store is computed on the driver when this is called, not
    when an action runs. Phase 2 scans ONLY the
    probed ``partition_id=`` directories (the literal isin lands in the
    Parquet PartitionFilters at rest), and the radius cut happens AT
    THE SCAN — a codegen'd filter over the sql plan's ADC sum, or
    inside the kernel — so the only rows that ever reach an exchange
    are the matches (the property that makes radius search safe at
    100 TB: shuffle volume is |result|, never |scanned|).

    ``round_to`` rounds the emitted distance AND applies the filter to
    the rounded value (the frozen-row convention — a boundary member
    differing only in sub-round noise cannot hash-flip across
    engines); when ``limit_per_query`` is set the per-query rank also
    orders by the rounded value with id tie-break. ``where``
    pre-filters candidates BEFORE scoring (the shared filtered-search
    mode). Neighbors in unprobed cells are missed — the standard IVF
    recall trade, dialed by nprobe; distances are PQ-approximate like
    every ADC path.

    ``rerank``/``rerank_slack`` (r10): EXACT radius semantics at index
    cost — the ADC scan keeps everything within ``radius *
    rerank_slack`` (slack absorbs quantization error both ways), one
    broadcast join of those O(matches) survivors against the ORIGINAL
    vectors in ``rerank``, and the final filter applies ``radius`` to
    the exact (rounded) distance. Residual misses are only true
    members whose ADC distance exceeds the slack band — widen
    ``rerank_slack`` to trade scan volume for that tail."""
    return _search(
        model, queries, query_ids, nprobe, round_to, where, rerank,
        radius=radius, limit=limit_per_query, rerank_slack=rerank_slack,
    )


def ann_range_query(
    model: IndexModel,
    query_vector: list[float],
    radius: float,
    nprobe: int,
    round_to: int | None = None,
    limit: int | None = None,
    where=None,
    rerank: DataFrame | None = None,
    rerank_slack: float = 1.5,
) -> DataFrame:
    """Solo RADIUS search over the IVF+PQ index — the Q=1 form of
    `ann_range_query_batch`, contract-matching the SQ side's
    `plans.ivfsq.ivfsq_range_query`: ``(vector_id, partition_id,
    squared_distance)`` ascending by (rounded) distance with id
    tie-break; ``limit`` is an ordered safety cap (keeps the nearest);
    ``where`` pre-filters before scoring; ``rerank``/``rerank_slack``
    refine to EXACT radius semantics (see the batch form). Without
    ``where``, ``rerank`` and ``round_to``, on a loaded ``file:``
    store, the query runs on the driver when this is called (see
    `ann_query`)."""
    return _search(
        model, [(0, query_vector)], None, nprobe, round_to, where, rerank,
        solo=True, radius=radius, limit=limit,
        rerank_slack=rerank_slack,
    )
