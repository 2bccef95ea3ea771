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
beyond optional thresholds). Serving is one scan core, `_scored`
(FAISS's IndexIVF / InvertedListScanner split, as on the SQ side):
probe selection (the shared driver fold over the collected O(P)
centroid table, or one distributed job), a probe table of one (query,
cell, query words) row per probe shipped as an Arrow LocalRelation,
the scan of only the probed cells (a LITERAL ``partition_id IN`` that
lands in the Parquet PartitionFilters, plan-gated), and one codegen
join-form scorer — popcount(xor) for the sign-bit and ITQ codes, the
query's micro-unit margins for asymmetric scoring. The families differ
only in how a query becomes words. Every public form is one `_search`:
`plans.ivf._tail` over that core, the tail every IVF family shares —
top-k (an ordered limit for one query, WindowGroupLimit per query for a
batch), a radius filter whose exchange volume is |result|, and the
exact re-rank (`rerank`/`rerank_factor` on top-k, a
separate ``exact_radius`` on the radius paths — the FAISS
IndexBinaryIVF+IndexRefine shape; binary codes are the coarsest
quantizer here, so they gain the most). A query whose width is not the
index's raises ValueError before any scan is planned.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flechasdb_spark.operators.bq import (
    _packed_words,
    asymmetric_score_join_checked,
    asymmetric_weights_micro,
    pack_bits_py,
)
from flechasdb_spark.plans.ivf import (
    _centroid_probes,
    _driver_frame,
    _empty,
    _probed_rows,
    _query_ids,
    _score_sql,
    _tail,
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


def _scored(
    model, ids, queries, nprobe, id_col, where, collect_centroids, asymmetric
) -> tuple[DataFrame, list[int], np.ndarray]:
    """The scan core of every IVF+BQ serving path: (scored, qids, qarr)
    where ``scored`` is ``(query_id, id_col, partition_id, __score)``,
    the binary distance of each candidate in each query's probed cells.
    ``ids`` must hold one distinct id per query vector in ``queries``
    (`plans.ivf._query_ids`, else ValueError).

    Probe selection is `plans.ivf._centroid_probes` (the driver fold
    over the collected centroids, or the distributed job with
    ``collect_centroids=False``); a query whose width is not the
    centroids' raises ValueError there. The families differ only in how
    a query becomes words: its sign bits under the model's thresholds,
    its one ITQ word (`_itq_query_word`), or, ``asymmetric``, the sign
    bits plus per-dim micro-unit margins (``__qwt``). The probe table,
    one (query_id, partition_id, ``__qw``[, ``__qwt``]) row per probe,
    is an Arrow LocalRelation coalesced to one partition and broadcast
    into the literal-``IN`` pruned scan, so a candidate is scored only
    against the queries that probed its cell, by one join-form scorer
    whose plan size does not grow with Q or dim."""
    qids = _query_ids(ids, len(queries))
    qarr = np.array([[float(x) for x in v] for v in queries])
    qidx, pid, _ = _centroid_probes(
        model.centroids, qarr, qids, int(nprobe), collect_centroids
    )
    if isinstance(model, ITQIVFBQModel):
        words = [[_itq_query_word(model.itq, v)] for v in qarr]
        score = _hamming_dist_join_checked(1)
    else:
        words = [pack_bits_py(v, model.thresholds) for v in qarr]
        score = _hamming_dist_join_checked((model.dim + 31) // 32)
    probes = {
        "query_id": np.asarray(qids, dtype=np.int64)[qidx],
        "partition_id": pid.astype(np.int32),
        "__qw": np.array(words, dtype=np.int64)[qidx],
    }
    if asymmetric:
        margins = [asymmetric_weights_micro(v, model.thresholds) for v in qarr]
        probes["__qwt"] = np.array(margins, dtype=np.int64)[qidx]
        score = asymmetric_score_join_checked(model.dim)
    table = _driver_frame(model.encoded.sparkSession, probes)
    scored = (
        _probed_rows(model, pid, where)
        .join(F.broadcast(table.coalesce(1)), "partition_id")
        .select(
            "query_id", F.col(id_col), "partition_id", score.alias("__score")
        )
    )
    return scored, qids, qarr


def _search(
    model, queries, query_ids, nprobe, id_col, where, solo, k=None,
    radius=None, limit=None, collect_centroids=True, rerank=None,
    rerank_factor=4, exact_radius=None, round_to=None, asymmetric=False,
) -> DataFrame:
    """Every public IVF+BQ serving form: `plans.ivf._tail` over
    `_scored`. The integer Hamming ``radius`` gates the scan, and with
    ``rerank`` the separate ``exact_radius`` gates the exact squared L2
    re-score; ``round_to`` applies to that exact distance only. The
    result is (id_col, partition_id, score) for a solo query, (query_id,
    id_col, score[, rank]) for a batch, the score named
    ``hamming_distance``, ``asym_micro`` or, reranked,
    ``squared_distance``; an empty batch returns that schema."""
    if radius is not None and rerank is not None and exact_radius is None:
        raise ValueError(
            "rerank=... needs exact_radius — the Hamming radius gates "
            "candidates (bits), the exact radius filters refined "
            "distances (squared L2)"
        )
    # round_to applies to the exact re-rank only: integer scores carry
    # no rounding contract
    if rerank is not None:
        name, sql_type = "squared_distance", "double"
    elif asymmetric:
        name, sql_type, round_to = "asym_micro", "long", None
    else:
        name, sql_type, round_to = "hamming_distance", "int", None
    rank = not solo and (k is not None or limit is not None)
    if not len(queries):
        return _empty(model, id_col, f"{name} {sql_type}", rank)
    ids = query_ids if query_ids is not None else range(len(queries))
    scored, qids, qarr = _scored(
        model, ids, queries, nprobe, id_col, where, collect_centroids,
        asymmetric,
    )
    out = _tail(
        scored, qids, qarr, id_col, solo, round_to, k=k,
        rerank_factor=rerank_factor,
        radius=None if radius is None else int(radius),
        exact_radius=None if exact_radius is None else float(exact_radius),
        limit=limit, rerank=rerank, rounded_scan=False,
    )
    keys = [id_col, "partition_id"] if solo else ["query_id", id_col]
    return out.selectExpr(
        *(f"`{c}`" for c in keys),
        f"{_score_sql(round_to)} AS {name}",
        *(["rank"] if rank else []),
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
    """Probe-pruned Hamming top-k, the Q=1 form of `ivfbq_query_batch`:
    probe selection collects the O(P) centroid table (as `ann_query`'s
    IndexModel holds it) and picks the query's nprobe nearest cells on
    the driver (exact squared L2 over centroids, the shared Q1); the
    query is packed with the model's thresholds (the same rule as the
    encode), and the candidate scan is codegen popcount(xor) ending in
    an ordered limit (TakeOrderedAndProject). Integer distances — no
    rounding contract; ties break by id ascending. ``where``
    pre-filters the encoded rows (attributes included) BEFORE scoring.
    A query whose width is not the index's raises ValueError.

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
    return _search(
        model, [query_vector], [0], nprobe, id_col, where, solo=True, k=k,
        rerank=rerank, rerank_factor=rerank_factor, round_to=round_to,
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
    SimHash near-dup sweep primitive at index cost. The Q=1 form of
    `ivfbq_range_query_batch`: probe selection collects the O(P)
    centroid table, as `ivfbq_query`. The radius cut executes IN the
    scan (codegen filter), so exchange volume is |result|, never the
    probed-cell volume; ``limit`` (ordered) caps a pathological radius.
    NOTE the IVF contract: recall is bounded by the probed cells,
    exactly as on the SQ/PQ radius paths — matches in unprobed cells
    are not seen (full-probe nprobe=P restores exact range semantics,
    integer-exact).

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
    return _search(
        model, [query_vector], [0], nprobe, id_col, where, solo=True,
        radius=radius, limit=limit, rerank=rerank,
        exact_radius=exact_radius, round_to=round_to,
    )


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
    pass (`_scored`). Probe selection is ONE dimension-major fold over
    the collected centroids, or ONE distributed `select_probes_df` job
    with ``collect_centroids=False`` for huge-P parity with the PQ/SQ
    families — never a per-query job. The union of probed cells becomes
    the literal partition filter; each query's packed words ride in the
    probe LocalRelation (one row per probe), the scan joins it on
    partition_id (so a candidate is scored ONLY against queries that
    probed its cell), and per-query top-k is one WindowGroupLimit —
    each task forwards <= k rows per query to the exchange. An empty
    batch returns no rows with the contract schema.

    ``rerank``/``rerank_factor`` (VERDICT r11 #4): per-query Hamming
    top ``k * rerank_factor`` survivors broadcast into ONE exact
    squared-L2 join against the ORIGINAL vectors (the SQ batch rerank
    shape); the emitted distances become exact (rounded when
    ``round_to`` is set, ranked on the rounded score) and the result
    is (query_id, id_col, squared_distance, rank).

    Returns (query_id, id_col, hamming_distance, rank)."""
    return _search(
        model, queries, query_ids, nprobe, id_col, where, solo=False, k=k,
        collect_centroids=collect_centroids, rerank=rerank,
        rerank_factor=rerank_factor, round_to=round_to,
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
    """Batch Hamming RADIUS search — `ivfbq_query_batch`'s scan core
    with `ivfbq_range_query`'s filter tail, completing the radius x
    batch cell of the binary serving grid (the SQ analogue is
    `ivfsq_range_query_batch`): ONE probe pass for Q queries, one
    literal-isin pruned scan joined against the probe LocalRelation,
    and a codegen radius filter so the only rows reaching any exchange
    are the matches. ``limit_per_query`` caps each query's result to
    its nearest members via WindowGroupLimit. Same probed-cell recall
    contract as every IVF radius path.

    ``rerank``/``exact_radius``: the solo path's exact refinement —
    Hamming ``radius`` gates candidates (bits), then the O(matches)
    survivors broadcast into one exact squared-L2 join against the
    ORIGINAL vectors and the final filter keeps (rounded) distances
    <= ``exact_radius``; the result becomes (query_id, id_col,
    squared_distance[, rank]).

    Returns (query_id, id_col, hamming_distance[, rank])."""
    return _search(
        model, queries, query_ids, nprobe, id_col, where, solo=False,
        radius=radius, limit=limit_per_query,
        collect_centroids=collect_centroids, rerank=rerank,
        exact_radius=exact_radius, round_to=round_to,
    )


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
    from flechasdb_spark.operators.bq import bq_thresholds
    from flechasdb_spark.operators.itq import sample_to_driver
    from flechasdb_spark.operators.kmeans_np import kmeans_fit

    x = sample_to_driver(vectors, vec_col, id_col, sample_n, f"ivfbq{seed}")
    cent, _ = kmeans_fit(x, int(num_partitions), seed=seed)
    # partition_id int, centroid array<double>, as one Arrow table
    cent_df = _driver_frame(
        vectors.sparkSession,
        {
            "partition_id": np.arange(len(cent), dtype=np.int32),
            "centroid": np.asarray(cent, dtype=np.float64),
        },
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
    probe selection over the collected O(P) centroid table (as
    `ivfbq_query`), single-word popcount(xor) scan (the
    `bq.hamming_knn` composition `itq_encode` documents, now at index
    cost). Integer distances, ties by id. A query whose width is not
    the centroids' raises ValueError."""
    return _search(
        model, [query_vector], [0], nprobe, id_col, where, solo=True, k=k
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
    return _search(
        model, [query_vector], [0], nprobe, id_col, where, solo=True,
        radius=radius, limit=limit,
    )


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
    SAME scan core as `ivfbq_query_batch` (one dimension-major fold
    over collected float centroids, or one distributed
    `select_probes_df` job with ``collect_centroids=False``), each
    query packed driver-side to its single ITQ word with the engine's
    exact bit rule (`_itq_query_word`), one literal-isin pruned
    popcount scan shared by all Q queries, per-query top-k via
    WindowGroupLimit. Equivalence with Q solo `itq_ivfbq_query` calls
    is pytest-gated.

    Returns (query_id, id_col, hamming_distance, rank)."""
    return _search(
        model, queries, query_ids, nprobe, id_col, where, solo=False, k=k,
        collect_centroids=collect_centroids,
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
    (`bq.asymmetric_score_join_checked`, integer-exact, no rounding
    contract). Probe selection collects the O(P) centroid table, as
    `ivfbq_query`. The full serving ladder on the binary family now
    mirrors the PQ side: symmetric Hamming (SDC analogue) /
    asymmetric margins (ADC analogue) / radius / batch, all behind
    the same literal-isin PartitionFilter."""
    return _search(
        model, [query_vector], [0], nprobe, id_col, where, solo=True, k=k,
        asymmetric=True,
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
    form (`ivfbq_range_query` is its symmetric sibling). Probe
    selection collects the O(P) centroid table, as `ivfbq_query`. The
    cut executes in the scan (codegen filter, |result| exchange);
    integer-exact, ties and ordering by (asym_micro, id); ``limit``
    (ordered) caps a pathological radius."""
    return _search(
        model, [query_vector], [0], nprobe, id_col, where, solo=True,
        radius=radius_micro, limit=limit, asymmetric=True,
    )


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
    ONE probe pass, one pruned scan joined against the probe
    LocalRelation (query_id, cell, packed query bits, per-dim
    micro-unit margins), scored by `bq.asymmetric_score_join_checked`
    — a single codegen aggregate over sequence(0, dim-1), so the plan
    stays O(1) nodes for any Q (a per-dim literal unroll would grow it
    O(Q * dim)); per-query top-k via WindowGroupLimit. Integer-exact,
    no rounding contract.

    Returns (query_id, id_col, asym_micro, rank)."""
    return _search(
        model, queries, query_ids, nprobe, id_col, where, solo=False, k=k,
        collect_centroids=collect_centroids, asymmetric=True,
    )
