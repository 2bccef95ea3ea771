"""IVF + scalar-quantized residuals — the FAISS index-factory shape
``IVF{P},SQ8`` on Spark: coarse k-means cells (plans/ivf.py) with each
member stored as an 8-bit scalar-quantized RESIDUAL (operators/sq.py)
instead of PQ codes.

Where it sits in the quantizer family: SQ8 keeps one code PER DIMENSION
(n bytes/vector, distortion only from 256-level rounding of each axis),
vs PQ's one code per SUBSPACE (D bytes/vector, distortion from a
learned 2^B-cell Voronoi partition of each subspace). IVF+SQ8 is the
standard choice when recall matters more than memory: 4x the footprint
of PQ8 but near-exact distances, and the scan is pure element
arithmetic — no codebook lookups, so it whole-stage-codegens.

Quantizing RESIDUALS (v - centroid) rather than raw vectors matters:
residual coordinates concentrate near 0 with per-cell spread much
smaller than the corpus spread, so the 256 levels cover a tighter range
-> smaller step size -> lower distortion than raw-vector SQ at equal
bits (the same reason the reference PQ-encodes residuals,
/root/reference/src/db/build.rs:85-129).

Scale (100 TB): the build is ivf_assign's one broadcast-join argmin
(map-side combined, one shuffle keyed by vec_id) + ONE O(dim)-row
bounds aggregation + a map-only encode; no extra shuffle vs plain IVF.

Serving is one scan core, `_scored` (FAISS's IndexIVF /
InvertedListScanner split): probe selection (the shared driver fold
over the collected centroids, or a distributed job), a probe table of
one (query, cell, query vector, centroid) row per probe shipped as an
Arrow LocalRelation, the scan of only the probed cells (a literal
``partition_id IN`` that lands in the Parquet PartitionFilters when the
encoded table is written partitionBy(partition_id)), and
``sum_j (q_j - c_j - decode(code_j))^2`` per (query, candidate) inside
codegen. The four public forms are one `_search` each: `plans.ivf._tail`
over that core, the tail every IVF family shares — top-k (an ordered
limit for one query, WindowGroupLimit per query for a batch), the
radius filter, and the exact re-rank. A DuckDB oracle recomputes the
full lifecycle exactly under frozen centroids (queries.py::ivfsq_knn).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flechasdb_spark.functions.linalg import squared_l2
from flechasdb_spark.operators.sq import (
    sq_bounds,
    sq_bounds_quantile,
    sq_decode,
    sq_decode_cols,
    sq_encode_cols_expr,
    sq_encode_expr,
    sq_train_grouped,
)
from flechasdb_spark.plans.ivf import (
    _centroid_probes,
    _driver_frame,
    _empty,
    _probed_rows,
    _query_ids,
    _score_sql,
    _tail,
    cent_col_name,
    ivf_assign,
)

__all__ = [
    "IVFSQModel",
    "build_ivfsq",
    "assemble_ivfsq",
    "merge_ivfsq",
    "ivfsq_residuals",
    "ivfsq_query",
    "ivfsq_query_batch",
    "ivfsq_range_query",
    "ivfsq_range_query_batch",
    "save_ivfsq",
    "load_ivfsq",
    "train_ivfsq",
    "encode_frozen_residuals",
    "cell_bounds_fingerprint",
]


@dataclass
class IVFSQModel:
    """centroids: (partition_id, centroid) DataFrame; lo/hi: GLOBAL
    residual SQ bounds (length dim, None under per-cell bounds);
    encoded: (id, partition_id, codes); cell_bounds: optional
    (partition_id, lo array, hi array) table — per-cell bounds
    (VERDICT r7 #6), O(P * dim) state that broadcasts into every
    encode/decode join."""

    centroids: DataFrame
    lo: list | None
    hi: list | None
    encoded: DataFrame
    cell_bounds: DataFrame | None = None
    levels: int = 255  # max code = 2^bits - 1: 255 (SQ8) or 15 (SQ4)


def ivfsq_residuals(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple = (),
) -> DataFrame:
    """(id, partition_id, residual[, *keep_cols]): nearest-centroid
    assignment + the per-row residual v - centroid.

    With a driver-small centroid table (the common case) this is ONE
    map-only codegen expression (r12, guide §2.4): the centroids ride
    as a plan literal, the winning centroid comes back on the argmin
    struct, and the residual subtraction happens in the same projection
    — no shuffle, no broadcast exchange, no second join. Huge-P tables
    fall back to the former two-broadcast-join shape (one corpus
    shuffle); distances, tie-breaks and residual arithmetic are
    identical either way (pytest-gated). ``keep_cols`` ride along
    untouched (attribute columns)."""
    from flechasdb_spark.plans.ivf import (
        _cent_array_lit,
        _let,
        _small_centroid_rows,
    )

    from flechasdb_spark.functions.linalg import lit_longs

    cc = cent_col_name(centroids)
    rows = _small_centroid_rows(centroids, "partition_id", cc)
    if rows is not None:
        from flechasdb_spark.plans.ivf import _df_memo

        memo = _df_memo(centroids)
        okey = ("resid_out", vec_col)
        out = memo.get(okey)
        if out is None:
            pid_type = (
                centroids.schema["partition_id"].dataType.simpleString()
            )
            pids_lit = lit_longs([r[0] for r in rows])
            cents_lit = _cent_array_lit(rows)

            def _score(v):
                def _cand(c, i):
                    d = F.aggregate(
                        F.zip_with(
                            v,
                            c,
                            lambda x, y: (x.cast("double") - y.cast("double"))
                            * (x.cast("double") - y.cast("double")),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    return F.struct(
                        d.alias("d"),
                        F.element_at(pids_lit, i + 1)
                        .cast(pid_type)
                        .alias("p"),
                        i.alias("i"),
                    )

                return F.array_min(F.transform(cents_lit, _cand))

            # two nested let-bindings guarantee the (possibly expensive)
            # vector expression and the P-way argmin are each evaluated
            # ONCE per row, no matter how the optimizer collapses
            # projects; the finished Column is memoized on the centroid
            # DataFrame (plans/ivf._PLAN_MEMO) so multi-shard lifecycles
            # build it once per plan, not once per shard
            out = _let(
                F.col(vec_col).cast("array<double>"),
                lambda v: _let(
                    _score(v),
                    lambda b: F.struct(
                        b["p"].alias("p"),
                        F.zip_with(
                            v,
                            F.element_at(cents_lit, b["i"] + 1),
                            lambda a, c2: a - c2,
                        ).alias("r"),
                    ),
                ),
            )
            memo[okey] = out
        return vectors.select(
            F.col(id_col), out.alias("__pr"), *keep_cols
        ).select(
            id_col,
            F.col("__pr")["p"].alias("partition_id"),
            F.col("__pr")["r"].alias("residual"),
            *keep_cols,
        )
    assigned = ivf_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col,
        impl="relational",
    )
    back = assigned.join(F.broadcast(centroids), "partition_id")
    resid = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.col(cc).cast("array<double>"),
        lambda a, b: a - b,
    )
    return back.select(
        id_col, "partition_id", resid.alias("residual"), *keep_cols
    )


def build_ivfsq(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounds: str = "global",
    clip: tuple[float, float] | None = None,
    bits: int = 8,
    attr_cols: tuple = (),
) -> IVFSQModel:
    """Assign, train residual bounds, encode. ``centroids`` come from
    the caller — kmeans_fit on a sample (operators/build.py) in
    production, a frozen table in the oracle.

    ``attr_cols`` (r9 — the PQ side's B10 story): attribute columns
    copied onto the encoded rows, so filtered search (`where` on the
    query paths) can gate on them BEFORE scoring and they persist
    with the index (save_ivfsq writes whatever columns the encoded
    table carries).

    ``bounds`` (VERDICT r7 #6):

    - ``"global"`` (default, the oracle form): one (lo, hi) pair per
      dimension over ALL residuals — one O(dim)-row pass, bounds ride
      as plan literals.
    - ``"per_cell"``: (lo, hi) per (cell, dimension) — residuals
      concentrate per cell far tighter than globally, so each cell's
      256 levels cover its own spread (smaller step -> lower
      distortion -> recall >= the global variant at equal nprobe,
      property-gated in tests/test_ivfsq.py). Costs O(P * dim) model
      state and one broadcast join at encode/decode.

    ``clip`` (VERDICT r7 #7): optional (q_lo, q_hi) quantiles — bounds
    from a fixed-grid histogram quantile instead of min/max, so one
    outlier coordinate cannot inflate the step size for every vector;
    out-of-range values saturate to code 0/255. Composes with either
    ``bounds`` mode; distortion improvement on heavy-tailed residuals
    is property-gated in tests/test_sq.py."""
    if bounds not in ("global", "per_cell"):
        raise ValueError(f"bounds must be 'global' or 'per_cell': {bounds!r}")
    if not 2 <= int(bits) <= 8:
        raise ValueError(f"bits must be in [2, 8], got {bits!r}")
    levels = 2 ** int(bits) - 1
    resid = ivfsq_residuals(
        vectors, centroids, id_col, vec_col, keep_cols=tuple(attr_cols)
    )
    if bounds == "per_cell":
        cb = sq_train_grouped(
            resid,
            vec_col="residual",
            group_col="partition_id",
            q_lo=clip[0] if clip else None,
            q_hi=clip[1] if clip else None,
        ).localCheckpoint(eager=True)  # O(P) rows; cut the train lineage
        enc = resid.join(F.broadcast(cb), "partition_id").select(
            id_col,
            "partition_id",
            sq_encode_cols_expr("residual", "lo", "hi", levels).alias(
                "codes"
            ),
            *attr_cols,
        )
        return IVFSQModel(
            centroids=centroids,
            lo=None,
            hi=None,
            encoded=enc,
            cell_bounds=cb,
            levels=levels,
        )
    if clip is not None:
        lo, hi = sq_bounds_quantile(
            resid, vec_col="residual", q_lo=clip[0], q_hi=clip[1]
        )
    else:
        lo, hi = sq_bounds(resid, vec_col="residual")
    enc = resid.select(
        id_col,
        "partition_id",
        sq_encode_expr("residual", lo, hi, levels).alias("codes"),
        *attr_cols,
    )
    return IVFSQModel(
        centroids=centroids, lo=lo, hi=hi, encoded=enc, levels=levels
    )


def _recon(
    codes_col: Column | str,
    cent_col: Column | str,
    lo,
    hi,
    levels: int = 255,
) -> Column:
    """centroid + decoded residual, element-wise (array<double>).
    ``lo``/``hi`` are the global bound lists, or the names of the
    per-cell bound columns."""
    cc = F.col(cent_col) if isinstance(cent_col, str) else cent_col
    if isinstance(lo, str):
        dec = sq_decode_cols(codes_col, lo, hi, levels)
    else:
        dec = sq_decode(codes_col, lo, hi, levels)
    return F.zip_with(cc.cast("array<double>"), dec, lambda c, r: c + r)


def _scored(
    model: IVFSQModel,
    queries: list[tuple[int, list]],
    nprobe: int,
    id_col: str,
    where,
    collect_centroids: bool,
) -> tuple[DataFrame, list[int], np.ndarray]:
    """The scan core of every IVF+SQ serving path: (scored, qids, qarr)
    where ``scored`` is ``(query_id, id_col, partition_id, __score)``,
    the asymmetric distance of each candidate in each query's probed
    cells. Query ids must be distinct (`plans.ivf._query_ids`, else
    ValueError).

    Probe selection is `plans.ivf._centroid_probes` (the driver fold
    over the collected centroids, or the distributed job with
    ``collect_centroids=False``). The probe table, one row per probe
    (query_id, partition_id, the query ``__qv`` and the probed
    centroid ``__c``, both double), is an Arrow LocalRelation broadcast
    into the literal-``IN`` pruned scan, so a candidate is scored only
    against the queries that probed its cell and reconstruction needs
    no centroid-table join. The table is coalesced to one partition
    first, so its broadcast is a one-task job. Per-cell bounds add one
    broadcast join of the O(P) bounds table."""
    qids = _query_ids([q for q, _ in queries], len(queries))
    qarr = np.array([[float(x) for x in v] for _, v in queries])
    qidx, pid, cent = _centroid_probes(
        model.centroids, qarr, qids, int(nprobe), collect_centroids
    )
    probes = _driver_frame(
        model.encoded.sparkSession,
        {
            "query_id": np.asarray(qids, dtype=np.int64)[qidx],
            "partition_id": pid.astype(np.int32),
            "__qv": qarr[qidx],
            "__c": cent,
        },
    )
    cands = _probed_rows(model, pid, where).join(
        F.broadcast(probes.coalesce(1)), "partition_id"
    )
    if model.cell_bounds is not None:
        cands = cands.join(F.broadcast(model.cell_bounds), "partition_id")
        recon = _recon("codes", "__c", "lo", "hi", model.levels)
    else:
        recon = _recon("codes", "__c", model.lo, model.hi, model.levels)
    scored = cands.select(
        "query_id",
        F.col(id_col),
        "partition_id",
        squared_l2(F.col("__qv"), recon).alias("__score"),
    )
    return scored, qids, qarr


def _search(
    model, queries, nprobe, id_col, round_to, where, solo, k=None,
    radius=None, limit=None, collect_centroids=True, rerank=None,
    rerank_factor=4, rerank_slack=1.5,
) -> DataFrame:
    """Every public IVF+SQ serving form: `plans.ivf._tail` over
    `_scored`. A radius query with ``rerank`` gates the scan at ``radius
    * rerank_slack``. The result is (id_col, partition_id,
    squared_distance) for a solo query, else (query_id, id_col,
    partition_id, squared_distance[, rank]); an empty batch returns
    that schema."""
    rank = not solo and (k is not None or limit is not None)
    if not queries:
        return _empty(
            model, id_col, "partition_id int, squared_distance double", rank
        )
    scored, qids, qarr = _scored(
        model, queries, nprobe, id_col, where, collect_centroids
    )
    gate = exact = None
    if radius is not None:
        exact = float(radius)
        gate = exact * float(rerank_slack) if rerank is not None else exact
    return _tail(
        scored, qids, qarr, id_col, solo, round_to, k=k,
        rerank_factor=rerank_factor, radius=gate, exact_radius=exact,
        limit=limit, rerank=rerank,
    ).selectExpr(
        *([] if solo else ["query_id"]),
        f"`{id_col}`",
        "partition_id",
        f"{_score_sql(round_to)} AS squared_distance",
        *(["rank"] if rank else []),
    )


def ivfsq_query(
    model: IVFSQModel,
    query_vector: list,
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    round_to: int | None = None,
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    where=None,
) -> DataFrame:
    """Asymmetric search: exact query vs (centroid + decoded residual),
    scanning only the ``nprobe`` nearest cells; returns ``(id_col,
    partition_id, squared_distance)``. The Q=1 form of
    `ivfsq_query_batch`: probe selection collects the O(P) centroid
    table (as `ann_query`'s IndexModel holds it) and folds on the
    driver, the scan is the shared literal-``IN`` pruned core, and the
    tail is an ordered limit (TakeOrderedAndProject). Ties break by id
    (SURVEY.md §2.4); with ``round_to`` the ranking uses the rounded
    score.

    ``where``: optional pre-filter predicate (Column or SQL string)
    over the encoded rows' columns (attributes included), applied
    BEFORE scoring, so the k returned rows all satisfy it.

    ``rerank``: a DataFrame holding the ORIGINAL vectors (id_col +
    'embedding') for everything indexed — a survivor absent from it
    is dropped by the inner join (the FAISS refine-storage contract).
    The quantized scan keeps ``k * rerank_factor`` survivors, which
    broadcast into one exact-distance join against the originals; the
    emitted distances are then EXACT. Near-free insurance for SQ8;
    for SQ4's coarser codes it recovers the recall the 16-level
    rounding costs (pytest-gated)."""
    return _search(
        model, [(0, query_vector)], nprobe, id_col, round_to, where, True,
        k=k, rerank=rerank, rerank_factor=rerank_factor,
    )


def ivfsq_query_batch(
    model: IVFSQModel,
    queries: list[tuple[int, list]],
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    round_to: int | None = None,
    where=None,
    collect_centroids: bool = True,
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
) -> DataFrame:
    """Batch IVF+SQ kNN — serving parity with the PQ side's
    `plans.ivf.ann_query`: one scan for Q queries. Returns
    ``(query_id, id_col, partition_id, squared_distance, rank)``; an
    empty batch returns no rows with that schema.

    Probe selection, ``collect_centroids``:

    - ``True`` (default): one collect of the O(P) centroid table and
      the driver fold `plans.ivf._probe_fold`, whose dimension-major
      accumulation is the engine's ``squared_l2`` left fold, so
      near-tie centroid distances order identically to the
      distributed path.
    - ``False``: probe selection as a DISTRIBUTED job
      (`plans.ivf.select_probes_df` — broadcast queries x centroid
      scan, per-query top-nprobe via WindowGroupLimit); only the
      O(Q * nprobe) winning (query, cell, centroid) rows are
      collected. Use past ~1e5 partitions, where the centroid table
      stops fitting on the driver.

    A query whose width is not the index's raises ValueError before
    any scan. The probe rows ship as one Arrow LocalRelation (query
    vector and probed centroid per probe) broadcast into the scan,
    which is pruned to the union of probed cells by a LITERAL ``IN``
    that lands in the Parquet PartitionFilters at rest; per-query
    top-k is a row_number window the optimizer runs as
    WindowGroupLimit, so the rank exchange carries O(Q * k * tasks)
    rows, never the scan.

    ``where``: optional pre-filter predicate (Column or SQL string)
    over the encoded rows' columns, applied BEFORE scoring — each
    query still returns up to k rows, all satisfying it.

    ``round_to``: output rounding; ranking then orders by the ROUNDED
    score with id tie-break (the frozen-row convention).

    ``rerank``/``rerank_factor``: exact re-rank of the quantized top
    ``k * rerank_factor`` per query against the ORIGINAL vectors (one
    broadcast join of the O(Q * k * factor) survivor set); emitted
    distances become exact."""
    return _search(
        model, queries, nprobe, id_col, round_to, where, False, k=k,
        collect_centroids=collect_centroids, rerank=rerank,
        rerank_factor=rerank_factor,
    )


def ivfsq_range_query(
    model: IVFSQModel,
    query_vector: list,
    radius: float,
    nprobe: int,
    id_col: str = "vec_id",
    round_to: int | None = None,
    limit: int | None = None,
    where=None,
    rerank: DataFrame | None = None,
    rerank_slack: float = 1.5,
) -> DataFrame:
    """RADIUS search over the IVF+SQ index (the FAISS ``range_search``
    contract composed with this index): every candidate in the
    ``nprobe`` nearest cells whose asymmetric distance (exact query vs
    centroid + decoded residual) is <= ``radius``, as ``(id_col,
    partition_id, squared_distance)`` ascending by (rounded) distance,
    ties by id. The Q=1 form of `ivfsq_range_query_batch`: the same
    collected-centroid probe selection and pruned scan core as
    `ivfsq_query`, with a filter tail, so the result size is set by the
    radius, not k. Like IVF top-k, neighbors living in unprobed cells
    are missed — the standard IVF recall trade, dialed by nprobe.

    ``round_to`` rounds the emitted distance AND applies the filter and
    the order to the rounded value (the frozen-row convention);
    ``limit`` optionally caps a pathological radius (ordered — keeps
    the nearest); ``where`` pre-filters candidates BEFORE scoring.

    ``rerank``/``rerank_slack``: with ``rerank`` holding the ORIGINAL
    vectors, the quantized scan keeps everything within ``radius *
    rerank_slack`` (the slack absorbs quantization error in BOTH
    directions), one broadcast join re-scores those survivors exactly,
    and the final filter applies ``radius`` to the EXACT distance —
    exact radius semantics at index cost, modulo only probe recall (a
    true member whose quantized distance exceeds the slack band is
    missed; widen ``rerank_slack`` to trade scan volume for that
    tail)."""
    return _search(
        model, [(0, query_vector)], nprobe, id_col, round_to, where, True,
        radius=radius, limit=limit, rerank=rerank, rerank_slack=rerank_slack,
    )


def ivfsq_range_query_batch(
    model: IVFSQModel,
    queries: list[tuple[int, list]],
    radius: float,
    nprobe: int,
    id_col: str = "vec_id",
    round_to: int | None = None,
    limit_per_query: int | None = None,
    collect_centroids: bool = True,
    where=None,
    rerank: DataFrame | None = None,
    rerank_slack: float = 1.5,
) -> DataFrame:
    """Batch radius search — `ivfsq_query_batch`'s scan core with
    `ivfsq_range_query`'s filter tail: one scan for Q radius queries,
    returning ``(query_id, id_col, partition_id, squared_distance)``
    (plus ``rank`` when ``limit_per_query`` caps each query's result
    to its nearest members via WindowGroupLimit, ordered by rounded
    distance, then id). Probe selection, the probe LocalRelation,
    literal-``IN`` partition pruning, the width check and the
    ``collect_centroids=False`` huge-P mode are shared with the top-k
    batch path; the per-candidate filter is codegen, so the only rows
    that reach any exchange are the matches.

    ``rerank``/``rerank_slack``: exact refinement of the radius
    contract — quantized pre-filter at ``radius * rerank_slack``, one
    broadcast join of the O(matches) survivors against the ORIGINAL
    vectors, final filter of the EXACT (rounded) distance at
    ``radius`` (see `ivfsq_range_query`)."""
    return _search(
        model, queries, nprobe, id_col, round_to, where, False,
        radius=radius, limit=limit_per_query,
        collect_centroids=collect_centroids, rerank=rerank,
        rerank_slack=rerank_slack,
    )


def encode_frozen_residuals(
    resid: DataFrame,
    model: IVFSQModel,
    id_col: str = "vec_id",
    missing_cell: str = "error",
) -> DataFrame:
    """Encode (id, partition_id, residual) rows against a FROZEN
    model's bounds — the shared kernel of `assemble_ivfsq` and
    `streaming.stream_ivfsq_encode`.

    Under per-cell bounds the join is a LEFT join: a vector assigned
    to a cell that had zero training residuals (possible once the
    model is frozen from a sample and applied to unseen data) has no
    bounds row, and the former INNER join silently dropped it from
    the index (ADVICE r8 #1). ``missing_cell`` decides instead:

    - ``"error"`` (default): fail the job loudly, naming the cell —
      an arrival can never vanish silently.
    - ``"zero"``: fall back to zero-width bounds (codes all 0, decode
      reconstructs the bare centroid) — lossy for that vector but it
      stays findable, the degraded-service option for a long-running
      ingest that must not stop."""
    if missing_cell not in ("error", "zero"):
        raise ValueError(
            f"missing_cell must be 'error' or 'zero': {missing_cell!r}"
        )
    extras = [
        c for c in resid.columns
        if c not in (id_col, "partition_id", "residual")
    ]
    if model.cell_bounds is None:
        return resid.select(
            id_col,
            "partition_id",
            sq_encode_expr(
                "residual", model.lo, model.hi, model.levels
            ).alias("codes"),
            *extras,
        )
    joined = resid.join(F.broadcast(model.cell_bounds), "partition_id", "left")
    codes = sq_encode_cols_expr("residual", "lo", "hi", model.levels)
    if missing_cell == "error":
        guarded = F.when(
            F.col("lo").isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        "ivfsq: no frozen bounds row for cell "
                    ),
                    F.col("partition_id").cast("string"),
                    F.lit(
                        " — assemble with missing_cell='zero' or retrain"
                    ),
                )
            ),
        ).otherwise(codes)
    else:
        zeros = F.array_repeat(
            F.lit(0).cast("smallint"), F.size(F.col("residual"))
        )
        guarded = F.when(F.col("lo").isNull(), zeros).otherwise(codes)
    return joined.select(
        id_col, "partition_id", guarded.alias("codes"), *extras
    )


def assemble_ivfsq(
    vectors: DataFrame,
    model: IVFSQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    missing_cell: str = "error",
    attr_cols: tuple = (),
) -> IVFSQModel:
    """Encode a corpus SHARD against a FROZEN IVF+SQ model — the
    train-once / encode-everywhere half of the 100 TB build shape
    (`operators/build.py::assemble_index`'s SQ sibling): train
    centroids + bounds once on a bounded sample, `assemble_ivfsq`
    each shard independently (embarrassingly parallel, no cross-shard
    traffic), then `merge_ivfsq`. One broadcast-join argmin + map-only
    encode; no bounds pass (they are inputs). ``missing_cell``: see
    `encode_frozen_residuals` — a cell absent from the frozen per-cell
    bounds errors loudly (default) or degrades to centroid-only codes,
    never a silent drop."""
    resid = ivfsq_residuals(
        vectors, model.centroids, id_col, vec_col,
        keep_cols=tuple(attr_cols),
    )
    enc = encode_frozen_residuals(resid, model, id_col, missing_cell)
    return IVFSQModel(
        centroids=model.centroids,
        lo=model.lo,
        hi=model.hi,
        encoded=enc,
        cell_bounds=model.cell_bounds,
        levels=model.levels,
    )


def cell_bounds_fingerprint(cell_bounds: DataFrame) -> int:
    """Order-independent content fingerprint of a per-cell bounds
    table: bit_xor of per-row xxhash64(partition_id, lo, hi), combined
    with the row count (a sum would overflow under ANSI mode; XOR is
    order-independent and overflow-free, and folding the count back in
    keeps tables differing only by duplicated rows — which XOR cancels
    — distinguishable). One O(P)-row job — cheap by construction (the table
    broadcasts), and it lets two shards RELOADED from disk prove they
    share the one frozen training pass (ADVICE r8 #5: object identity
    rejected the realistic multi-job 100 TB build, where each shard is
    assembled after save/load in its own driver)."""
    row = cell_bounds.select(
        # bit_xor, not sum: order-independent AND overflow-free (ANSI
        # mode makes a bigint sum overflow throw); the row count rides
        # along so two tables differing only by duplicated rows (which
        # XOR out) still compare unequal
        F.expr("bit_xor(xxhash64(partition_id, lo, hi))").alias("fp"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return (int(row["fp"]) if row["fp"] is not None else 0) ^ (
        int(row["n"]) << 1
    )


def merge_ivfsq(
    base: IVFSQModel,
    other: IVFSQModel,
    id_col: str = "vec_id",
    prefer: str = "other",
    assume_disjoint: bool = False,
    assume_same_bounds: bool = False,
) -> IVFSQModel:
    """Merge two IVF+SQ shards ENCODED WITH THE SAME FROZEN MODEL
    (`maintenance.merge_indexes`' SQ sibling): codes produced under
    identical centroids AND bounds are directly comparable, so a
    disjoint merge is a pure plan union — no shuffle, no scan.
    Overlapping ids cost one id-keyed anti-join (``prefer`` picks the
    winner, "other" = last-write-wins). Raises when the frozen state
    differs: global bounds are compared element-wise; per-cell bounds
    accept the SAME DataFrame object for free, else compare an O(P)
    content fingerprint (ADVICE r8 #5: identity alone rejected shards
    assembled after save/load — the realistic multi-driver 100 TB
    build — even though their frozen bounds are identical).
    ``assume_same_bounds=True`` skips even the fingerprint jobs when
    the caller has out-of-band proof (e.g. both loaded from the same
    manifest path)."""
    if prefer not in ("base", "other"):
        raise ValueError(f"prefer must be 'base' or 'other', got {prefer!r}")
    if (base.cell_bounds is None) != (other.cell_bounds is None):
        raise ValueError("cannot merge global-bounds with per-cell-bounds")
    if int(base.levels) != int(other.levels):
        raise ValueError(
            f"quantization depth differs ({base.levels} vs {other.levels} "
            "levels) — codes are not comparable across shards"
        )
    if base.cell_bounds is not None:
        if (
            not assume_same_bounds
            and base.cell_bounds is not other.cell_bounds
        ):
            if cell_bounds_fingerprint(
                base.cell_bounds
            ) != cell_bounds_fingerprint(other.cell_bounds):
                raise ValueError(
                    "per-cell bounds differ — codes are not comparable "
                    "across shards (assemble both from one frozen model)"
                )
    else:
        if list(base.lo) != list(other.lo) or list(base.hi) != list(
            other.hi
        ):
            raise ValueError(
                "bounds differ — codes are not comparable across shards"
            )
    a, b = base.encoded, other.encoded
    if not assume_disjoint:
        if prefer == "other":
            a = a.join(b.select(id_col), id_col, "left_anti")
        else:
            b = b.join(a.select(id_col), id_col, "left_anti")
    return IVFSQModel(
        centroids=base.centroids,
        lo=base.lo,
        hi=base.hi,
        encoded=a.unionByName(b),
        cell_bounds=base.cell_bounds,
        levels=base.levels,
    )


def save_ivfsq(model: IVFSQModel, path: str, pack_codes: bool = False) -> None:
    """Persist the index: encoded codes partitioned by cell (so a
    probed query reads only its cells' directories — Parquet partition
    pruning, the same at-rest layout as the IVF+PQ index), centroids
    as one small parquet, residual bounds in the manifest JSON.

    ``pack_codes`` (r10, VERDICT r9 #3): store codes as ``binary``
    instead of ``array<smallint>`` — 1 byte/code at SQ8, 2 codes/byte
    at SQ4 (`operators.sq.pack_codes_expr`). `load_ivfsq` unpacks
    LAZILY in the scan projection (pure hex SQL, codegen), so every
    query path works unchanged and the roundtrip is exact
    (pytest-gated); only the at-rest bytes shrink (measured table in
    SCALING.md §r10)."""
    import os

    from flechasdb_spark.operators.sq import (
        pack_codes_expr,
        pack_mode_for_levels,
    )
    from flechasdb_spark.sources.manifest import write_manifest_json

    spark = model.encoded.sparkSession
    enc = model.encoded
    meta: dict = {"kind": "ivfsq", "levels": int(model.levels)}
    if pack_codes:
        mode = pack_mode_for_levels(model.levels)
        if model.lo is not None:
            dim = len(model.lo)
        else:
            dim = len(model.cell_bounds.select("lo").first()["lo"])
        meta["packed"] = mode
        meta["dim"] = int(dim)
        others = [c for c in enc.columns if c != "codes"]
        enc = enc.select(
            *others, pack_codes_expr("codes", mode).alias("codes_bin")
        )
    (
        enc.repartition("partition_id")
        .write.mode("overwrite")
        .partitionBy("partition_id")
        .parquet(os.path.join(path, "index"))
    )
    model.centroids.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    if model.cell_bounds is not None:
        meta["bounds"] = "per_cell"
        model.cell_bounds.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "cell_bounds")
        )
    else:
        meta["bounds"] = "global"
        meta["lo"] = [float(x) for x in model.lo]
        meta["hi"] = [float(x) for x in model.hi]
    write_manifest_json(spark, os.path.join(path, "ivfsq.json"), meta)


def load_ivfsq(spark, path: str) -> IVFSQModel:
    """Load a persisted IVF+SQ index. The encoded side stays lazy — a
    query's probe semi-join prunes to the probed ``partition_id=``
    directories (plan-gated in tests/test_ivfsq.py). A packed index
    (``save_ivfsq(pack_codes=True)``) unpacks in the load projection:
    the hex-slice decode composes into every downstream scan, so the
    serving paths see the same ``codes array<smallint>`` column and
    the partition pruning is untouched."""
    import os

    from flechasdb_spark.operators.sq import unpack_codes_expr
    from flechasdb_spark.sources.manifest import read_manifest_json

    t = read_manifest_json(spark, os.path.join(path, "ivfsq.json"))
    if t is None or t.get("kind") != "ivfsq":
        raise ValueError(f"not an ivfsq index: {path}")
    levels = int(t.get("levels", 255))  # pre-r9 manifests are SQ8
    encoded = spark.read.parquet(os.path.join(path, "index"))
    if t.get("packed"):
        encoded = encoded.withColumn(
            "codes",
            unpack_codes_expr("codes_bin", int(t["dim"]), t["packed"]),
        ).drop("codes_bin")
    if t.get("bounds") == "per_cell":
        return IVFSQModel(
            centroids=spark.read.parquet(os.path.join(path, "centroids")),
            lo=None,
            hi=None,
            encoded=encoded,
            cell_bounds=spark.read.parquet(
                os.path.join(path, "cell_bounds")
            ),
            levels=levels,
        )
    return IVFSQModel(
        centroids=spark.read.parquet(os.path.join(path, "centroids")),
        lo=[float(x) for x in t["lo"]],
        hi=[float(x) for x in t["hi"]],
        encoded=encoded,
        levels=levels,
    )


def train_ivfsq(
    vectors: DataFrame,
    num_partitions: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_n: int = 100_000,
    bounds: str = "global",
    clip: tuple[float, float] | None = None,
    bits: int = 8,
    attr_cols: tuple = (),
) -> IVFSQModel:
    """Production one-call build: coarse k-means on a bounded
    deterministic sample (the build_index training pattern —
    operators/build.py), then `build_ivfsq` against the trained
    centroids. The oracle row keeps the frozen-centroid path.
    ``attr_cols`` ride onto the encoded rows for filtered search,
    exactly as in `build_ivfsq` (r10: forwarded so the transformed
    factory composition can use them too, VERDICT r9 #4)."""
    from flechasdb_spark.operators.itq import sample_to_driver
    from flechasdb_spark.operators.kmeans_np import kmeans_fit

    x = sample_to_driver(
        vectors, vec_col, id_col, sample_n, f"ivfsq{seed}"
    )
    cent, _ = kmeans_fit(x, int(num_partitions), seed=seed)
    # partition_id int, centroid array<double>, as one Arrow table
    cent_df = _driver_frame(
        vectors.sparkSession,
        {
            "partition_id": np.arange(len(cent), dtype=np.int32),
            "centroid": np.asarray(cent, dtype=np.float64),
        },
    )
    return build_ivfsq(
        vectors, cent_df, id_col=id_col, vec_col=vec_col,
        bounds=bounds, clip=clip, bits=bits, attr_cols=tuple(attr_cols),
    )
