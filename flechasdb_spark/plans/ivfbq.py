"""IVF + binary quantization — the FAISS ``IndexBinaryIVF`` analogue
(binary factory shape ``BIVF{P}``) on Spark: coarse k-means cells over
the FLOAT vectors (plans/ivf.py) with each member stored as packed
threshold bits (operators/bq.py), served by a probe-pruned Hamming
scan. The one cell of the quantizer x IVF grid the repo was missing
(VERDICT r10 #3): PQ/SQ8/SQ4 all had IVF compositions; BQ was
flat-scan only.

Why this composition exists: BQ is the cheapest quantizer there is
(1 bit/dim, 32x over f32, distance = popcount(xor) — pure integer),
so at corpus scale its bottleneck is purely the SCAN volume. IVF fixes
exactly that: probe nprobe of P cells and the scan touches ~nprobe/P
of the codes, with Parquet partition pruning keeping the untouched
cells unread at rest. Unlike the PQ/SQ sides there is NO residual
step: binary codes have no useful residual structure (sign bits of
(v - c) destroy the Hamming geometry of v), so codes are packed from
the raw vector and the centroids serve ONLY to route — the same
contract as FAISS's IndexBinaryIVF, whose coarse quantizer clusters
the binary codes while the stored payload stays the raw code.

Integer-exact end to end: probe selection is the same exact
squared-L2-over-centroids as the other families (driver parity with
/root/reference/src/db/stored.rs:394-442's partition selection), and
the Hamming scan has no rounding contract at all — a word-wise
popcount(xor) equals the per-dimension sign-disagreement count, which
a DuckDB oracle recomputes bit-identically (the easiest full-oracle
index family there is; registry rows ``ivfbq_knn`` /
``ivfbq_hamming_range``).

Scale (100 TB): build is ivf_assign's one broadcast-join argmin plus a
map-only packed encode (no bounds pass — BQ has no trained state
beyond optional thresholds); the query collects O(nprobe) probe ids
from the O(P) centroid table, prunes the at-rest layout with a LITERAL
``isin`` (a static Parquet PartitionFilter, plan-gated), and the
candidate scan is codegen xor+popcount ending in one
TakeOrderedAndProject (top-k) or a codegen filter whose exchange
volume is |result| (radius).

r12 (VERDICT r11 #3/#4/#6) completes the serving grid: batch phase 1
is ONE probe pass (`_batch_probe_rows` — the shared
dimension-major fold, or one distributed `select_probes_df` job with
``collect_centroids=False``; the former per-query `_probe_ids` loop
scheduled Q driver jobs), every path grows the exact-refine mode
(`rerank`/`rerank_factor` on top-k, a separate ``exact_radius`` on
the radius paths — the FAISS IndexBinaryIVF+IndexRefine shape;
binary codes are the coarsest quantizer here, so they gain the most),
batch radius lands (`ivfbq_range_query_batch`), and the ITQ
composition serves batches (`itq_ivfbq_query_batch`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flechasdb_spark.functions.linalg import squared_l2
from flechasdb_spark.operators.bq import (
    _hamming_dist_checked,
    _packed_words,
    pack_bits_py,
)
from flechasdb_spark.operators.knn import flat_knn
from flechasdb_spark.operators.sq import _lit_arr
from flechasdb_spark.plans.ivf import (
    _centroid_probes,
    _probed_rows,
    cent_col_name,
    ivf_assign,
)

__all__ = [
    "IVFBQModel",
    "ITQIVFBQModel",
    "build_ivfbq",
    "build_itq_ivfbq",
    "ivfbq_asymmetric_query",
    "ivfbq_asymmetric_query_batch",
    "ivfbq_asymmetric_range_query",
    "ivfbq_query",
    "ivfbq_query_batch",
    "ivfbq_range_query",
    "ivfbq_range_query_batch",
    "itq_ivfbq_query",
    "itq_ivfbq_query_batch",
    "itq_ivfbq_range_query",
    "merge_itq_ivfbq",
    "merge_ivfbq",
    "save_itq_ivfbq",
    "load_itq_ivfbq",
    "save_ivfbq",
    "load_ivfbq",
    "train_ivfbq",
]


@dataclass
class IVFBQModel:
    """centroids: (partition_id, centroid) float table — routing only;
    encoded: (id, partition_id, words array<bigint>[, attrs]); dim:
    code width in bits; thresholds: per-dim bit thresholds (None =
    fixed 0.0, the bit-exact default — see `bq_thresholds` for the
    mean-centered variant's determinism caveat)."""

    centroids: DataFrame
    encoded: DataFrame
    dim: int
    thresholds: list[float] | None = None


def build_ivfbq(
    vectors: DataFrame,
    centroids: DataFrame,
    dim: int,
    thresholds: list[float] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    attr_cols: tuple = (),
) -> IVFBQModel:
    """Assign each vector to its nearest centroid (exact argmin, ties
    by partition_id — the ivf_assign shape: one broadcast join, no
    shuffle beyond the source's) and pack its threshold bits. The
    packed encode is map-only codegen; ``attr_cols`` ride along for
    filtered search, as on the SQ side (B10)."""
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    enc = assigned.select(
        id_col,
        "partition_id",
        _packed_words(vec_col, int(dim), thresholds).alias("words"),
        *attr_cols,
    )
    return IVFBQModel(
        centroids=centroids,
        encoded=enc,
        dim=int(dim),
        thresholds=list(thresholds) if thresholds is not None else None,
    )


def _probe_ids(model: IVFBQModel, query_vector, nprobe: int) -> list[int]:
    """O(nprobe) cell ids from one tiny job over the O(P) centroid
    table, so the cell filter is a LITERAL isin — a static Parquet
    PartitionFilter on the at-rest layout (the ivfsq_query rationale:
    a semi-join against a lazy probe DataFrame never becomes a
    partition filter on this shape)."""
    cc = cent_col_name(model.centroids)
    return [
        int(r["partition_id"])
        for r in flat_knn(
            model.centroids,
            [float(x) for x in query_vector],
            k=int(nprobe),
            id_col="partition_id",
            vec_col=cc,
        ).collect()
    ]


def _batch_probe_rows(
    centroids: DataFrame,
    queries: list,
    nprobe: int,
    qids: list[int],
    collect_centroids: bool = True,
) -> list[tuple[int, int]]:
    """Phase 1 for batch serving in ONE pass (VERDICT r11 #3): the
    former shape called `_probe_ids` once per query — Q sequential
    driver jobs of Spark job-scheduling latency (~0.1 s each) before
    any scanning started, ~15 minutes of driver dead time at Q=1e4.
    Now phase 1 is `plans.ivf._centroid_probes`, shared with IVF+SQ:

    - ``collect_centroids=True`` (default): ONE collect of the O(P)
      centroid table + the dimension-major O(Q*P) driver fold
      `plans.ivf._probe_fold` — the exact left-fold the engine's
      ``squared_l2`` aggregate performs, so near-tie centroid
      distances order IDENTICALLY to the per-query
      `_probe_ids`/flat_knn path (stable argsort, ties by
      partition_id; equivalence is pytest-gated in
      tests/test_ivfbq.py).
    - ``False``: ONE distributed `plans.ivf.select_probes_df` job
      (broadcast queries x centroid scan, WindowGroupLimit top-nprobe)
      for indexes whose centroid table no longer fits on the driver —
      huge-P parity with the PQ/SQ families.

    Either way the driver schedules O(1) probe jobs, never O(Q), and a
    query whose width is not the centroids' raises ValueError.
    Returns [(query_id, partition_id)] pairs, nprobe per query."""
    import numpy as np

    qarr = np.array([[float(x) for x in v] for v in queries], np.float64)
    qidx, pids, _ = _centroid_probes(
        centroids, qarr, qids, int(nprobe), collect_centroids
    )
    return [(int(qids[i]), int(p)) for i, p in zip(qidx, pids)]


def _hamming_dist_join_checked(n_words: int):
    """popcount(xor) of the encoded ``words`` against the joined
    query's ``__qw`` column, with the width-mismatch guard (ADVICE
    r10 #2 — a silent length mismatch truncated the zip and emitted a
    too-small distance)."""
    return F.when(
        F.size(F.col("words")) == int(n_words),
        F.aggregate(
            F.zip_with(
                F.col("words"),
                F.col("__qw"),
                lambda a, b: F.bit_count(a.bitwiseXOR(b)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"encoded row width != {int(n_words)} words: "),
                F.size(F.col("words")).cast("string"),
            )
        )
    )


def ivfbq_query(
    model: IVFBQModel,
    query_vector: list,
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    where=None,
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    round_to: int | None = None,
) -> DataFrame:
    """Probe-pruned Hamming top-k: the float query picks its nprobe
    nearest cells (exact squared L2 over centroids, the shared Q1),
    is packed with the model's thresholds (the same rule as the
    encode), and the candidate scan is codegen popcount(xor) ending in
    TakeOrderedAndProject. Integer distances — no rounding contract;
    ties break by id ascending. ``where`` pre-filters the encoded rows
    (attributes included) BEFORE scoring.

    ``rerank``/``rerank_factor`` (VERDICT r11 #4 — the FAISS
    IndexBinaryIVF-wrapped-in-IndexRefine shape, matching the PQ/SQ
    contract): ``rerank`` holds the ORIGINAL float vectors (id_col +
    'embedding'); the quantized scan keeps the Hamming top
    ``k * rerank_factor`` survivors, which broadcast into ONE exact
    squared-L2 join against the originals, and the final top-k orders
    by the exact (optionally ``round_to``-rounded, rank-on-rounded
    per the frozen-row convention) distance. Binary codes are the
    coarsest quantizer in the repo (1 bit/dim), so they gain the most
    from refinement — recall >= the symmetric Hamming path at equal
    nprobe is property-gated in tests/test_ivfbq.py. With ``rerank``
    the result is (id_col, partition_id, squared_distance).

    Returns (id_col, partition_id, hamming_distance)."""
    probe_ids = _probe_ids(model, query_vector, nprobe)
    cands = _probed_rows(model, probe_ids, where)
    qw = pack_bits_py(query_vector, model.thresholds)
    dist = _hamming_dist_checked(qw)
    adc_k = int(k) * int(rerank_factor) if rerank is not None else int(k)
    out = (
        cands.select(
            F.col(id_col), F.col("partition_id"), dist.alias("hamming_distance")
        )
        .orderBy(F.col("hamming_distance").asc(), F.col(id_col).asc())
        .limit(adc_k)
    )
    if rerank is None:
        return out
    # exact refine: the O(k * factor) survivor set broadcasts; the
    # originals scan once map-side (the SQ side's rerank shape)
    qA = _lit_arr([float(x) for x in query_vector])
    cand_ids = out.select(id_col, "partition_id")
    exact = squared_l2(qA, F.col("embedding").cast("array<double>"))
    ranked = (
        rerank.select(id_col, "embedding")
        .join(F.broadcast(cand_ids), id_col)
        .select(F.col(id_col), F.col("partition_id"), exact.alias("__d"))
    )
    rank2 = (
        F.round(F.col("__d"), round_to)
        if round_to is not None
        else F.col("__d")
    )
    return (
        ranked.orderBy(rank2.asc(), F.col(id_col).asc())
        .limit(int(k))
        .select(id_col, "partition_id", rank2.alias("squared_distance"))
    )


def ivfbq_range_query(
    model: IVFBQModel,
    query_vector: list,
    radius: int,
    nprobe: int,
    id_col: str = "vec_id",
    where=None,
    limit: int | None = None,
    rerank: DataFrame | None = None,
    exact_radius: float | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Probe-pruned Hamming RADIUS search: every code in the probed
    cells within ``radius`` flipped bits of the packed query — the
    SimHash near-dup sweep primitive at index cost. The radius cut
    executes IN the scan (codegen filter), so exchange volume is
    |result|, never the probed-cell volume; ``limit`` (ordered) caps a
    pathological radius. NOTE the IVF contract: recall is bounded by
    the probed cells, exactly as on the SQ/PQ radius paths — matches
    in unprobed cells are not seen (full-probe nprobe=P restores exact
    range semantics, integer-exact).

    ``rerank``/``exact_radius`` (VERDICT r11 #4): exact refinement of
    the radius contract on the binary family. Hamming bits and
    squared L2 are incommensurate units, so unlike the SQ side's
    ``radius * rerank_slack`` pre-filter the two radii are SEPARATE
    knobs: the integer Hamming ``radius`` stays the cheap candidate
    gate (bounding how much of the probed cells reaches the refine
    join), then the O(matches) survivors broadcast into one exact
    squared-L2 join against the ORIGINAL vectors in ``rerank`` and
    the final filter keeps distances <= ``exact_radius`` — on the
    ROUNDED distance when ``round_to`` is set (the frozen-row
    convention). With ``rerank`` the result is (id_col, partition_id,
    squared_distance)."""
    probe_ids = _probe_ids(model, query_vector, nprobe)
    cands = _probed_rows(model, probe_ids, where)
    qw = pack_bits_py(query_vector, model.thresholds)
    dist = _hamming_dist_checked(qw)
    out = (
        cands.select(
            F.col(id_col), F.col("partition_id"), dist.alias("hamming_distance")
        )
        .where(F.col("hamming_distance") <= int(radius))
        .orderBy(F.col("hamming_distance").asc(), F.col(id_col).asc())
    )
    if rerank is not None:
        if exact_radius is None:
            raise ValueError(
                "ivfbq_range_query(rerank=...) needs exact_radius — the "
                "Hamming radius gates candidates (bits), the exact "
                "radius filters refined distances (squared L2)"
            )
        qA = _lit_arr([float(x) for x in query_vector])
        cand_ids = out.select(id_col, "partition_id")
        exact = squared_l2(qA, F.col("embedding").cast("array<double>"))
        refined = (
            rerank.select(id_col, "embedding")
            .join(F.broadcast(cand_ids), id_col)
            .select(F.col(id_col), F.col("partition_id"), exact.alias("__d"))
        )
        scr = (
            F.round(F.col("__d"), round_to)
            if round_to is not None
            else F.col("__d")
        )
        out = (
            refined.where(scr <= float(exact_radius))
            .orderBy(scr.asc(), F.col(id_col).asc())
            .select(id_col, "partition_id", scr.alias("squared_distance"))
        )
    if limit is not None:
        out = out.limit(int(limit))
    return out


def ivfbq_query_batch(
    model: IVFBQModel,
    queries: list[list[float]],
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    query_ids: list[int] | None = None,
    where=None,
    collect_centroids: bool = True,
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    round_to: int | None = None,
) -> DataFrame:
    """Batched serving: Q queries share ONE pruned scan AND one probe
    pass. Phase 1 is `_batch_probe_rows` (VERDICT r11 #3 — the former
    per-query `_probe_ids` loop ran Q sequential driver jobs before
    any scanning started; now it is ONE dimension-major fold over the
    collected centroids, or ONE distributed `select_probes_df` job
    with ``collect_centroids=False`` for huge-P parity with the PQ/SQ
    families). The union of probed cells becomes the literal partition
    filter; each query's packed words broadcast as a tiny (query_id,
    qwords, probed cells) table, the scan joins it on partition_id (so
    a candidate is scored ONLY against queries that probed its cell),
    and per-query top-k is one WindowGroupLimit — each task forwards
    <= k rows per query to the exchange.

    ``rerank``/``rerank_factor`` (VERDICT r11 #4): per-query Hamming
    top ``k * rerank_factor`` survivors broadcast into ONE exact
    squared-L2 join against the ORIGINAL vectors (the SQ batch rerank
    shape); the emitted distances become exact (rounded when
    ``round_to`` is set, ranked on the rounded score) and the result
    is (query_id, id_col, squared_distance, rank).

    Returns (query_id, id_col, hamming_distance, rank)."""
    from pyspark.sql import Window

    qids = (
        list(query_ids) if query_ids is not None else list(range(len(queries)))
    )
    spark = model.encoded.sparkSession
    if not qids:
        # an empty batch is a legal call (the SQ side's contract) —
        # return an empty frame with the contract schema
        id_type = model.encoded.schema[id_col].dataType.simpleString()
        if rerank is not None:
            return spark.createDataFrame(
                [],
                f"query_id long, {id_col} {id_type}, "
                "squared_distance double, rank int",
            )
        return spark.createDataFrame(
            [],
            f"query_id long, {id_col} {id_type}, "
            "hamming_distance int, rank int",
        )
    probe_rows = _batch_probe_rows(
        model.centroids, queries, nprobe, qids, collect_centroids
    )
    qwords = {
        int(qid): [int(x) for x in pack_bits_py(qv, model.thresholds)]
        for qid, qv in zip(qids, queries)
    }
    rows = [(qid, c, qwords[qid]) for qid, c in probe_rows]
    qdf = F.broadcast(
        spark.createDataFrame(
            rows, "query_id long, partition_id int, __qw array<bigint>"
        )
    )
    cands = _probed_rows(model, [c for _, c in probe_rows], where)
    dist = _hamming_dist_join_checked((model.dim + 31) // 32)
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming_distance").asc(), F.col(id_col).asc()
    )
    adc_k = int(k) * int(rerank_factor) if rerank is not None else int(k)
    topk = (
        cands.join(qdf, "partition_id")
        .select(
            "query_id",
            F.col(id_col),
            F.col("partition_id"),
            dist.alias("hamming_distance"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= adc_k)
    )
    if rerank is None:
        return topk.select("query_id", id_col, "hamming_distance", "rank")
    qvdf = F.broadcast(
        spark.createDataFrame(
            [
                (int(qid), [float(x) for x in qv])
                for qid, qv in zip(qids, queries)
            ],
            "query_id long, __qv array<double>",
        )
    )
    cand = topk.select("query_id", id_col, "partition_id")
    exact = (
        rerank.select(id_col, "embedding")
        .join(F.broadcast(cand), id_col)
        .join(qvdf, "query_id")
        .select(
            "query_id",
            F.col(id_col),
            squared_l2(
                F.col("embedding").cast("array<double>"), F.col("__qv")
            ).alias("__d"),
        )
    )
    rank2 = (
        F.round(F.col("__d"), round_to)
        if round_to is not None
        else F.col("__d")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        rank2.asc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= int(k))
        .select("query_id", id_col, rank2.alias("squared_distance"), "rank")
    )


def ivfbq_range_query_batch(
    model: IVFBQModel,
    queries: list[list[float]],
    radius: int,
    nprobe: int,
    id_col: str = "vec_id",
    query_ids: list[int] | None = None,
    where=None,
    collect_centroids: bool = True,
    limit_per_query: int | None = None,
    rerank: DataFrame | None = None,
    exact_radius: float | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Batch Hamming RADIUS search — `ivfbq_query_batch`'s serving
    shape with `ivfbq_range_query`'s filter tail, completing the
    radius x batch cell of the binary serving grid (the SQ analogue
    is `ivfsq_range_query_batch`): ONE probe pass for Q queries
    (`_batch_probe_rows`), one literal-isin pruned scan joined against
    the broadcast (query_id, cell, qwords) table, and a codegen radius
    filter so the only rows reaching any exchange are the matches.
    ``limit_per_query`` caps each query's result to its nearest
    members via WindowGroupLimit. Same probed-cell recall contract as
    every IVF radius path.

    ``rerank``/``exact_radius``: the solo path's exact refinement —
    Hamming ``radius`` gates candidates (bits), then the O(matches)
    survivors broadcast into one exact squared-L2 join against the
    ORIGINAL vectors and the final filter keeps (rounded) distances
    <= ``exact_radius``; the result becomes (query_id, id_col,
    squared_distance[, rank]).

    Returns (query_id, id_col, hamming_distance[, rank])."""
    from pyspark.sql import Window

    qids = (
        list(query_ids) if query_ids is not None else list(range(len(queries)))
    )
    spark = model.encoded.sparkSession
    if rerank is not None and exact_radius is None:
        raise ValueError(
            "ivfbq_range_query_batch(rerank=...) needs exact_radius — "
            "the Hamming radius gates candidates (bits), the exact "
            "radius filters refined distances (squared L2)"
        )
    if not qids:
        id_type = model.encoded.schema[id_col].dataType.simpleString()
        score = (
            "squared_distance double"
            if rerank is not None
            else "hamming_distance int"
        )
        rank = ", rank int" if limit_per_query is not None else ""
        return spark.createDataFrame(
            [], f"query_id long, {id_col} {id_type}, {score}{rank}"
        )
    probe_rows = _batch_probe_rows(
        model.centroids, queries, nprobe, qids, collect_centroids
    )
    qwords = {
        int(qid): [int(x) for x in pack_bits_py(qv, model.thresholds)]
        for qid, qv in zip(qids, queries)
    }
    rows = [(qid, c, qwords[qid]) for qid, c in probe_rows]
    qdf = F.broadcast(
        spark.createDataFrame(
            rows, "query_id long, partition_id int, __qw array<bigint>"
        )
    )
    cands = _probed_rows(model, [c for _, c in probe_rows], where)
    dist = _hamming_dist_join_checked((model.dim + 31) // 32)
    matches = (
        cands.join(qdf, "partition_id")
        .select(
            "query_id",
            F.col(id_col),
            F.col("partition_id"),
            dist.alias("hamming_distance"),
        )
        .where(F.col("hamming_distance") <= int(radius))
    )
    if rerank is not None:
        qvdf = F.broadcast(
            spark.createDataFrame(
                [
                    (int(qid), [float(x) for x in qv])
                    for qid, qv in zip(qids, queries)
                ],
                "query_id long, __qv array<double>",
            )
        )
        cand = matches.select("query_id", id_col)
        refined = (
            rerank.select(id_col, "embedding")
            .join(F.broadcast(cand), id_col)
            .join(qvdf, "query_id")
            .select(
                "query_id",
                F.col(id_col),
                squared_l2(
                    F.col("embedding").cast("array<double>"), F.col("__qv")
                ).alias("__d"),
            )
        )
        scr = (
            F.round(F.col("__d"), round_to)
            if round_to is not None
            else F.col("__d")
        )
        out = refined.where(scr <= float(exact_radius)).select(
            "query_id", id_col, scr.alias("squared_distance")
        )
        score_col = "squared_distance"
    else:
        out = matches.select("query_id", id_col, "hamming_distance")
        score_col = "hamming_distance"
    if limit_per_query is not None:
        w = Window.partitionBy("query_id").orderBy(
            F.col(score_col).asc(), F.col(id_col).asc()
        )
        out = out.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= int(limit_per_query)
        )
    return out


def merge_ivfbq(
    base: IVFBQModel,
    other: IVFBQModel,
    id_col: str = "vec_id",
    prefer: str = "other",
    assume_disjoint: bool = False,
) -> IVFBQModel:
    """Merge two IVF+BQ shards ENCODED WITH THE SAME FROZEN MODEL —
    `merge_ivfsq`'s binary sibling, completing the shard-build shape
    on this family. On the binary contract `build_ivfbq` against the
    frozen centroids IS the assemble step (there are no trained
    bounds at all), so the 100 TB build is: train centroids once on a
    sample, `build_ivfbq` each shard independently (embarrassingly
    parallel, no cross-shard traffic), then `merge_ivfbq`. A disjoint
    merge is a pure plan union — no shuffle, no scan; overlapping ids
    cost one id-keyed anti-join (``prefer`` picks the winner,
    "other" = last-write-wins, the upsert convention).

    Frozen-state compatibility: code width (``dim``) and the
    threshold vector must match element-wise — sign bits packed under
    different thresholds are not comparable (same refusal discipline
    as `merge_ivfsq`'s bounds check; the centroid table rides from
    ``base``, as routing is part of the one frozen model both shards
    must share)."""
    if prefer not in ("base", "other"):
        raise ValueError(f"prefer must be 'base' or 'other', got {prefer!r}")
    if int(base.dim) != int(other.dim):
        raise ValueError(
            f"code width differs ({base.dim} vs {other.dim} bits) — "
            "words are not comparable across shards"
        )
    bt, ot = base.thresholds, other.thresholds
    if (bt is None) != (ot is None) or (
        bt is not None
        and [float(x) for x in bt] != [float(x) for x in ot]
    ):
        raise ValueError(
            "thresholds differ — sign bits are not comparable across "
            "shards (build both from one frozen model)"
        )
    a, b = base.encoded, other.encoded
    if not assume_disjoint:
        if prefer == "other":
            a = a.join(b.select(id_col), id_col, "left_anti")
        else:
            b = b.join(a.select(id_col), id_col, "left_anti")
    return IVFBQModel(
        centroids=base.centroids,
        encoded=a.unionByName(b),
        dim=int(base.dim),
        thresholds=list(bt) if bt is not None else None,
    )


def merge_itq_ivfbq(
    base: ITQIVFBQModel,
    other: ITQIVFBQModel,
    id_col: str = "vec_id",
    prefer: str = "other",
    assume_disjoint: bool = False,
) -> ITQIVFBQModel:
    """Shard merge on the ITQ composition: same union/anti-join shape
    as `merge_ivfbq`; frozen-state compatibility is the ITQ model
    itself (frozen dataclass equality — exact floats for mean,
    components, and losses — which survives the manifest round-trip,
    pytest-gated on `save_itq_ivfbq`)."""
    if prefer not in ("base", "other"):
        raise ValueError(f"prefer must be 'base' or 'other', got {prefer!r}")
    if base.itq != other.itq:
        raise ValueError(
            "ITQ rotations differ — codes are not comparable across "
            "shards (build both from one frozen model)"
        )
    a, b = base.encoded, other.encoded
    if not assume_disjoint:
        if prefer == "other":
            a = a.join(b.select(id_col), id_col, "left_anti")
        else:
            b = b.join(a.select(id_col), id_col, "left_anti")
    return ITQIVFBQModel(
        centroids=base.centroids, encoded=a.unionByName(b), itq=base.itq
    )


def save_ivfbq(model: IVFBQModel, path: str) -> None:
    """Persist: packed words partitioned by cell (partitionBy layout =
    Parquet partition pruning for probed queries, the same at-rest
    contract as the PQ/SQ indexes), centroids as one small parquet,
    dim + thresholds in the manifest JSON. Words are already 1 bit/dim
    packed — there is no tighter at-rest form to chase (the r10 packing
    lesson: Parquet's own encodings do the rest)."""
    from flechasdb_spark.sources.manifest import write_manifest_json

    spark = model.encoded.sparkSession
    (
        model.encoded.repartition("partition_id")
        .write.mode("overwrite")
        .partitionBy("partition_id")
        .parquet(os.path.join(path, "index"))
    )
    model.centroids.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    meta = {
        "kind": "ivfbq",
        "dim": int(model.dim),
        "thresholds": (
            [float(x) for x in model.thresholds]
            if model.thresholds is not None
            else None
        ),
    }
    write_manifest_json(spark, os.path.join(path, "ivfbq.json"), meta)


def load_ivfbq(spark, path: str) -> IVFBQModel:
    """Load a persisted IVF+BQ index; the encoded side stays lazy so a
    query's literal probe filter prunes to the probed ``partition_id=``
    directories (plan-gated in tests/test_ivfbq.py)."""
    from flechasdb_spark.sources.manifest import read_manifest_json

    t = read_manifest_json(spark, os.path.join(path, "ivfbq.json"))
    if t is None or t.get("kind") != "ivfbq":
        raise ValueError(f"not an ivfbq index: {path}")
    thr = t.get("thresholds")
    return IVFBQModel(
        centroids=spark.read.parquet(os.path.join(path, "centroids")),
        encoded=spark.read.parquet(os.path.join(path, "index")),
        dim=int(t["dim"]),
        thresholds=[float(x) for x in thr] if thr is not None else None,
    )


def train_ivfbq(
    vectors: DataFrame,
    dim: int,
    num_partitions: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_n: int = 100_000,
    thresholds: str | list[float] | None = None,
    attr_cols: tuple = (),
) -> IVFBQModel:
    """Production one-call build: coarse k-means on a bounded
    deterministic sample (the train_ivfsq pattern), then `build_ivfbq`
    against the trained centroids. ``thresholds="mean"`` trains the
    per-dim mean thresholds (`bq_thresholds` — deterministic per run,
    not oracle-bit-exact); a list pins them (e.g. an ITQ-rotated
    pipeline binarizes rotated vectors at zero, so compose
    plans/transform with the fixed-zero default instead); None keeps
    fixed 0.0, the bit-exact default. The oracle rows keep the
    frozen-centroid path."""
    import numpy as np

    from flechasdb_spark.operators.bq import bq_thresholds
    from flechasdb_spark.operators.itq import sample_to_driver
    from flechasdb_spark.operators.kmeans_np import kmeans_fit

    x = sample_to_driver(vectors, vec_col, id_col, sample_n, f"ivfbq{seed}")
    cent, _ = kmeans_fit(x, int(num_partitions), seed=seed)
    spark = vectors.sparkSession
    cent_df = spark.createDataFrame(
        [
            (int(i), [float(v) for v in row])
            for i, row in enumerate(np.asarray(cent))
        ],
        "partition_id int, centroid array<double>",
    )
    thr = bq_thresholds(vectors, vec_col) if thresholds == "mean" else thresholds
    return build_ivfbq(
        vectors,
        cent_df,
        dim=int(dim),
        thresholds=thr,
        id_col=id_col,
        vec_col=vec_col,
        attr_cols=tuple(attr_cols),
    )


# ---------------------------------------------------------------------------
# ITQ composition — "per-cell packed sign/ITQ codes": the same coarse
# router, but the stored bits come from a LEARNED rotation (Gong &
# Lazebnik 2011, operators/itq.py) instead of raw per-dim signs. ITQ
# is trained (PCA eigvecs + alternating rotation), so the composition
# is property-gated, not oracle-hashed — the trained-model policy.
# ---------------------------------------------------------------------------


@dataclass
class ITQIVFBQModel:
    """centroids route in the ORIGINAL float space (exact argmin, the
    shared Q1); encoded rows carry the single packed ITQ word (bits <=
    63 fit one BIGINT, `itq_code_expr`'s layout)."""

    centroids: DataFrame
    encoded: DataFrame
    itq: object  # operators.itq.ITQModel


def build_itq_ivfbq(
    vectors: DataFrame,
    centroids: DataFrame,
    itq_model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    attr_cols: tuple = (),
) -> ITQIVFBQModel:
    """Assign on the float vectors, store each member's packed ITQ
    code — one broadcast-join argmin + a map-only codegen encode
    (`itq_code_expr` is literal-array dot folds; no Python in the
    plan)."""
    from flechasdb_spark.operators.itq import itq_code_expr

    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    enc = assigned.select(
        id_col,
        "partition_id",
        F.array(itq_code_expr(vec_col, itq_model)).alias("words"),
        *attr_cols,
    )
    return ITQIVFBQModel(centroids=centroids, encoded=enc, itq=itq_model)


def _itq_query_word(itq_model, query_vector) -> int:
    """Driver-side packing of one query with the engine's exact bit
    rule: bit j set iff seq_dot(q, c_j) - seq_dot(mean, c_j) >= 0 —
    the same sequential-fold dots `itq_code_expr` compiles, so the
    query's bits match what the engine would encode for the same
    vector bit-for-bit."""
    from flechasdb_spark.operators.pca import _seq_dot

    q = [float(x) for x in query_vector]
    word = 0
    for j, c in enumerate(itq_model.components):
        if _seq_dot(q, c) - _seq_dot(itq_model.mean, c) >= 0.0:
            word |= 1 << j
    return word


def itq_ivfbq_query(
    model: ITQIVFBQModel,
    query_vector: list,
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    where=None,
) -> DataFrame:
    """Probe-pruned Hamming top-k over learned-rotation codes: float
    probe selection, single-word popcount(xor) scan (the
    `bq.hamming_knn` composition `itq_encode` documents, now at index
    cost). Integer distances, ties by id."""
    base = IVFBQModel(
        centroids=model.centroids, encoded=model.encoded,
        dim=model.itq.bits, thresholds=None,
    )
    probe_ids = _probe_ids(base, query_vector, nprobe)
    cands = _probed_rows(model, probe_ids, where)
    dist = _hamming_dist_checked([_itq_query_word(model.itq, query_vector)])
    return (
        cands.select(
            F.col(id_col), F.col("partition_id"), dist.alias("hamming_distance")
        )
        .orderBy(F.col("hamming_distance").asc(), F.col(id_col).asc())
        .limit(int(k))
    )


def itq_ivfbq_range_query(
    model: ITQIVFBQModel,
    query_vector: list,
    radius: int,
    nprobe: int,
    id_col: str = "vec_id",
    where=None,
    limit: int | None = None,
) -> DataFrame:
    """Radius form of `itq_ivfbq_query` — every probed-cell code within
    ``radius`` flipped bits of the query's ITQ word; the cut executes
    in the scan, exchange volume |result|."""
    base = IVFBQModel(
        centroids=model.centroids, encoded=model.encoded,
        dim=model.itq.bits, thresholds=None,
    )
    probe_ids = _probe_ids(base, query_vector, nprobe)
    cands = _probed_rows(model, probe_ids, where)
    dist = _hamming_dist_checked([_itq_query_word(model.itq, query_vector)])
    out = (
        cands.select(
            F.col(id_col), F.col("partition_id"), dist.alias("hamming_distance")
        )
        .where(F.col("hamming_distance") <= int(radius))
        .orderBy(F.col("hamming_distance").asc(), F.col(id_col).asc())
    )
    if limit is not None:
        out = out.limit(int(limit))
    return out


def itq_ivfbq_query_batch(
    model: ITQIVFBQModel,
    queries: list[list[float]],
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    query_ids: list[int] | None = None,
    where=None,
    collect_centroids: bool = True,
) -> DataFrame:
    """Batched serving on the ITQ composition (VERDICT r11 #6 — the
    one serving mode the learned-rotation family was missing): the
    SAME one-pass phase 1 as `ivfbq_query_batch` (`_batch_probe_rows`
    — one dimension-major fold over collected float centroids, or one
    distributed `select_probes_df` job with
    ``collect_centroids=False``), each query packed driver-side to its
    single ITQ word with the engine's exact bit rule
    (`_itq_query_word`), one literal-isin pruned popcount scan shared
    by all Q queries, per-query top-k via WindowGroupLimit.
    Equivalence with Q solo `itq_ivfbq_query` calls is pytest-gated.

    Returns (query_id, id_col, hamming_distance, rank)."""
    from pyspark.sql import Window

    qids = (
        list(query_ids) if query_ids is not None else list(range(len(queries)))
    )
    spark = model.encoded.sparkSession
    if not qids:
        id_type = model.encoded.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [],
            f"query_id long, {id_col} {id_type}, "
            "hamming_distance int, rank int",
        )
    probe_rows = _batch_probe_rows(
        model.centroids, queries, nprobe, qids, collect_centroids
    )
    qword = {
        int(qid): [int(_itq_query_word(model.itq, qv))]
        for qid, qv in zip(qids, queries)
    }
    rows = [(qid, c, qword[qid]) for qid, c in probe_rows]
    qdf = F.broadcast(
        spark.createDataFrame(
            rows, "query_id long, partition_id int, __qw array<bigint>"
        )
    )
    cands = _probed_rows(model, [c for _, c in probe_rows], where)
    # ITQ codes are a single packed BIGINT word (bits <= 63)
    dist = _hamming_dist_join_checked(1)
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming_distance").asc(), F.col(id_col).asc()
    )
    return (
        cands.join(qdf, "partition_id")
        .select("query_id", F.col(id_col), dist.alias("hamming_distance"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
    )


def save_itq_ivfbq(model: ITQIVFBQModel, path: str) -> None:
    """Persist the ITQ composition: the same partitionBy cell layout as
    `save_ivfbq` (probed queries prune at rest), centroids parquet, and
    the ITQ model (mean + components + bits + losses) in the manifest —
    a few KB of floats, the whole trained state the composition
    carries."""
    from flechasdb_spark.sources.manifest import write_manifest_json

    spark = model.encoded.sparkSession
    (
        model.encoded.repartition("partition_id")
        .write.mode("overwrite")
        .partitionBy("partition_id")
        .parquet(os.path.join(path, "index"))
    )
    model.centroids.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    write_manifest_json(
        spark,
        os.path.join(path, "ivfbq.json"),
        {
            "kind": "itq_ivfbq",
            "itq_mean": [float(x) for x in model.itq.mean],
            "itq_components": [
                [float(x) for x in c] for c in model.itq.components
            ],
            "itq_losses": [float(x) for x in model.itq.losses],
        },
    )


def load_itq_ivfbq(spark, path: str) -> ITQIVFBQModel:
    """Load a persisted ITQ composition; lazy encoded side, literal
    probe filter prunes at rest exactly as on the sign-bit family."""
    from flechasdb_spark.operators.itq import ITQModel
    from flechasdb_spark.sources.manifest import read_manifest_json

    t = read_manifest_json(spark, os.path.join(path, "ivfbq.json"))
    if t is None or t.get("kind") != "itq_ivfbq":
        raise ValueError(f"not an itq_ivfbq index: {path}")
    itq = ITQModel(
        mean=tuple(float(x) for x in t["itq_mean"]),
        components=tuple(
            tuple(float(x) for x in c) for c in t["itq_components"]
        ),
        losses=tuple(float(x) for x in t["itq_losses"]),
    )
    return ITQIVFBQModel(
        centroids=spark.read.parquet(os.path.join(path, "centroids")),
        encoded=spark.read.parquet(os.path.join(path, "index")),
        itq=itq,
    )


def ivfbq_asymmetric_query(
    model: IVFBQModel,
    query_vector: list,
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    where=None,
) -> DataFrame:
    """Probe-pruned ASYMMETRIC binary scoring (r11): the corpus stays
    1 bit/dim and partition-pruned, but the query is never quantized —
    each disagreeing dim in the probed cells costs the query's
    micro-unit margin from the bit hyperplane
    (`bq.asymmetric_score_checked`, integer-exact, no rounding
    contract). The full serving ladder on the binary family now
    mirrors the PQ side: symmetric Hamming (SDC analogue) /
    asymmetric margins (ADC analogue) / radius / batch, all behind
    the same literal-isin PartitionFilter."""
    from flechasdb_spark.operators.bq import asymmetric_score_checked

    probe_ids = _probe_ids(model, query_vector, nprobe)
    cands = _probed_rows(model, probe_ids, where)
    score = asymmetric_score_checked(query_vector, model.thresholds)
    return (
        cands.select(
            F.col(id_col), F.col("partition_id"), score.alias("asym_micro")
        )
        .orderBy(F.col("asym_micro").asc(), F.col(id_col).asc())
        .limit(int(k))
    )


def ivfbq_asymmetric_range_query(
    model: IVFBQModel,
    query_vector: list,
    radius_micro: int,
    nprobe: int,
    id_col: str = "vec_id",
    where=None,
    limit: int | None = None,
) -> DataFrame:
    """ASYMMETRIC radius search (r12): every probed-cell code whose
    summed disagreement margin stays within ``radius_micro``
    micro-units of the float query — the asymmetric ladder's radius
    form (`ivfbq_range_query` is its symmetric sibling). The cut
    executes in the scan (codegen filter, |result| exchange);
    integer-exact, ties and ordering by (asym_micro, id);
    ``limit`` (ordered) caps a pathological radius.

    Scoring uses the JOIN-form aggregate
    (`bq.asymmetric_score_join_checked` against a broadcast 1-row
    query table), NOT the solo literal unroll: Catalyst collapses the
    projection into the radius filter and would duplicate the
    unrolled O(dim) expression into both — at dim=64 that crossed
    the JVM's 64 KB method limit and whole-stage codegen fell back
    to interpreted execution (observed; the aggregate form stays a
    few hundred bytes regardless of dim, and value equality with the
    literal scorer is pytest-gated)."""
    from flechasdb_spark.operators.bq import (
        asymmetric_score_join_checked,
        asymmetric_weights_micro,
    )

    spark = model.encoded.sparkSession
    probe_ids = _probe_ids(model, query_vector, nprobe)
    cands = _probed_rows(model, probe_ids, where)
    qdf = F.broadcast(
        spark.createDataFrame(
            [
                (
                    [int(x) for x in pack_bits_py(query_vector, model.thresholds)],
                    [
                        int(x)
                        for x in asymmetric_weights_micro(
                            query_vector, model.thresholds
                        )
                    ],
                )
            ],
            "__qw array<bigint>, __qwt array<bigint>",
        )
    )
    score = asymmetric_score_join_checked(model.dim)
    out = (
        cands.crossJoin(qdf)
        .select(
            F.col(id_col), F.col("partition_id"), score.alias("asym_micro")
        )
        .where(F.col("asym_micro") <= int(radius_micro))
        .orderBy(F.col("asym_micro").asc(), F.col(id_col).asc())
    )
    if limit is not None:
        out = out.limit(int(limit))
    return out


def ivfbq_asymmetric_query_batch(
    model: IVFBQModel,
    queries: list[list[float]],
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    query_ids: list[int] | None = None,
    where=None,
    collect_centroids: bool = True,
) -> DataFrame:
    """Batched ASYMMETRIC binary serving (r12 — completing the
    asymmetric ladder: solo/radius got it in r11, batch closes it):
    ONE probe pass (`_batch_probe_rows`), one pruned scan joined
    against a broadcast (query_id, cell, packed query bits, per-dim
    micro-unit margins) table, scored by
    `bq.asymmetric_score_join_checked` — a single codegen aggregate
    over sequence(0, dim-1), so the plan stays O(1) nodes for any Q
    (the solo scorer's per-dim literal unroll would grow it
    O(Q * dim)); per-query top-k via WindowGroupLimit. Integer-exact,
    no rounding contract.

    Returns (query_id, id_col, asym_micro, rank)."""
    from pyspark.sql import Window

    from flechasdb_spark.operators.bq import (
        asymmetric_score_join_checked,
        asymmetric_weights_micro,
    )

    qids = (
        list(query_ids) if query_ids is not None else list(range(len(queries)))
    )
    spark = model.encoded.sparkSession
    if not qids:
        id_type = model.encoded.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [],
            f"query_id long, {id_col} {id_type}, asym_micro long, rank int",
        )
    probe_rows = _batch_probe_rows(
        model.centroids, queries, nprobe, qids, collect_centroids
    )
    qinfo = {
        int(qid): (
            [int(x) for x in pack_bits_py(qv, model.thresholds)],
            [int(x) for x in asymmetric_weights_micro(qv, model.thresholds)],
        )
        for qid, qv in zip(qids, queries)
    }
    rows = [(qid, c, *qinfo[qid]) for qid, c in probe_rows]
    qdf = F.broadcast(
        spark.createDataFrame(
            rows,
            "query_id long, partition_id int, __qw array<bigint>, "
            "__qwt array<bigint>",
        )
    )
    cands = _probed_rows(model, [c for _, c in probe_rows], where)
    score = asymmetric_score_join_checked(model.dim)
    w = Window.partitionBy("query_id").orderBy(
        F.col("asym_micro").asc(), F.col(id_col).asc()
    )
    return (
        cands.join(qdf, "partition_id")
        .select("query_id", F.col(id_col), score.alias("asym_micro"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
    )
