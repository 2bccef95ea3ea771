"""IVF+SQ8 (plans/ivfsq.py): residual scalar quantization under the
IVF coarse partitioner. Gates:

1. numpy recompute of the full pipeline (assign -> residual bounds ->
   encode -> probe -> asymmetric distance) matches ivfsq_query exactly;
2. nprobe=P degenerates to a full scan: result == brute-force top-k
   over ALL reconstructed vectors;
3. residual-quantized distances track exact distances: recall@10 vs
   flat_knn is high at modest nprobe (the reason to quantize residuals
   rather than raw vectors);
4. encoded table schema/bounds invariants.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
P = 8


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


@pytest.fixture(scope="module")
def cent(emb):
    return emb.where(F.col("vec_id") < P).select(
        F.col("vec_id").cast("int").alias("partition_id"),
        F.col("embedding").alias("centroid"),
    )


@pytest.fixture(scope="module")
def model(emb, cent):
    from flechasdb_spark.plans.ivfsq import build_ivfsq

    return build_ivfsq(emb, cent)


def _np_pipeline(emb, qv):
    """Brute-force numpy recompute of the whole IVF+SQ lifecycle."""
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    C = X[:P]
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    pid = d2.argmin(axis=1)
    R = X - C[pid]
    lo, hi = R.min(axis=0), R.max(axis=0)
    span = hi - lo
    safe = np.where(span == 0, 1.0, span)
    codes = np.clip(np.floor((R - lo) * 255.0 / safe), 0, 255)
    codes = np.where(span == 0, 0, codes)
    recon = C[pid] + lo + codes * span / 255.0
    dist = ((np.asarray(qv, dtype=np.float64) - recon) ** 2).sum(axis=1)
    return ids, pid, dist


def test_matches_numpy_recompute(spark, emb, model):
    from flechasdb_spark.plans.ivfsq import ivfsq_query

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    ids, pid, dist = _np_pipeline(emb, qv)
    qd = {r.vec_id: (r.partition_id, r.squared_distance)
          for r in ivfsq_query(model, qv, k=10, nprobe=P).collect()}
    # nprobe=P scans everything -> global top-10 of the numpy distances
    order = np.lexsort((ids, dist))[:10]
    assert set(qd) == set(ids[order])
    for i in order:
        got_pid, got_d = qd[ids[i]]
        assert got_pid == pid[i]
        assert got_d == pytest.approx(dist[i], rel=1e-9, abs=1e-9)


def test_full_probe_equals_reconstructed_bruteforce(spark, emb, model):
    from flechasdb_spark.plans.ivfsq import ivfsq_query

    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    full = ivfsq_query(model, qv, k=5, nprobe=P, round_to=6).collect()
    ids, _, dist = _np_pipeline(emb, qv)
    order = np.lexsort((ids, dist))[:5]
    assert [r.vec_id for r in full] == list(ids[order])


def test_recall_vs_exact(spark, emb, model):
    from flechasdb_spark.operators.knn import flat_knn
    from flechasdb_spark.plans.ivfsq import ivfsq_query

    qv = [float(x) for x in emb.where(F.col("vec_id") == 11).first()["embedding"]]
    exact = {r.vec_id for r in flat_knn(emb, qv, k=10).collect()}
    got = {r.vec_id for r in ivfsq_query(model, qv, k=10, nprobe=6).collect()}
    # SQ8 residual quantization is near-lossless, so recall is probe-
    # limited; the fixture "centroids" are frozen arbitrary vectors
    # (not k-means fits), so cells are ill-shaped — nprobe=6/8 keeps
    # the true neighbors covered
    assert len(exact & got) >= 8


def test_encoded_invariants(model):
    enc = model.encoded
    assert set(enc.columns) == {"vec_id", "partition_id", "codes"}
    row = enc.select(
        F.min(F.array_min("codes")).alias("mn"),
        F.max(F.array_max("codes")).alias("mx"),
        F.countDistinct("partition_id").alias("np"),
    ).first()
    assert 0 <= row.mn and row.mx <= 255 and row.np <= P
    assert len(model.lo) == len(model.hi)
    assert all(l <= h for l, h in zip(model.lo, model.hi))


def test_save_load_query_equality_and_pruning(spark, emb, model, tmp_path):
    """Persist -> load -> query returns exactly the in-memory result,
    and the loaded query's scan prunes to the probed partition_id=
    directories (PartitionFilters in the parquet scan node)."""
    from flechasdb_spark.plans.ivfsq import (
        ivfsq_query,
        load_ivfsq,
        save_ivfsq,
    )

    path = str(tmp_path / "ivfsq_idx")
    save_ivfsq(model, path)
    loaded = load_ivfsq(spark, path)
    assert loaded.lo == pytest.approx(model.lo)
    assert loaded.hi == pytest.approx(model.hi)

    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    a = [
        (r.vec_id, r.partition_id, r.squared_distance)
        for r in ivfsq_query(model, qv, k=10, nprobe=3, round_to=6).collect()
    ]
    b = [
        (r.vec_id, r.partition_id, r.squared_distance)
        for r in ivfsq_query(loaded, qv, k=10, nprobe=3, round_to=6).collect()
    ]
    assert a == b

    plan = (
        ivfsq_query(loaded, qv, k=10, nprobe=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # a LITERAL probe filter must reach the partitioned scan — the
    # former semi-join-only gate passed on a vacuous isnotnull while
    # the scan read every cell (caught r8)
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters: [" in ln
    ]  # (tmp_path is truncated out of the plan string at 100 chars,
    # so match on the filter itself; only the index scan is partitioned)
    assert scan_lines, plan
    assert any(
        "partition_id" in ln and " IN (" in ln.split("PartitionFilters")[1]
        for ln in scan_lines
    ), scan_lines


def test_train_ivfsq_end_to_end_recall(spark, emb):
    """Trained coarse path: k-means cells are better-shaped than the
    frozen arbitrary centroids, so recall@10 at nprobe=P/2 must be
    at least as good as the frozen fixture's probe-limited result."""
    from flechasdb_spark.operators.knn import flat_knn
    from flechasdb_spark.plans.ivfsq import ivfsq_query, train_ivfsq

    model = train_ivfsq(emb, num_partitions=P, seed=3)
    assert model.encoded.count() == emb.count()
    qv = [float(x) for x in emb.where(F.col("vec_id") == 11).first()["embedding"]]
    exact = {r.vec_id for r in flat_knn(emb, qv, k=10).collect()}
    got = {r.vec_id for r in ivfsq_query(model, qv, k=10, nprobe=P // 2).collect()}
    assert len(exact & got) >= 8


def test_ivfsq_recall_at_least_pq_at_equal_nprobe(spark, emb, cent, model):
    """The family trade made checkable: SQ8 keeps a code per DIMENSION
    (near-lossless distances), PQ a code per subspace — at equal coarse
    partitioning and probe budget, IVF+SQ8 recall@10 must be >= IVF+PQ
    recall@10 (both against exact flat search, same frozen centroids)."""
    import numpy as np

    from flechasdb_spark.operators.build import IndexConfig, assemble_index
    from flechasdb_spark.operators.knn import flat_knn
    from flechasdb_spark.plans.ivf import ann_query
    from flechasdb_spark.plans.ivfsq import ivfsq_query

    cent_np = np.array(
        [r.centroid for r in cent.orderBy("partition_id").collect()],
        dtype=np.float64,
    )
    dim = cent_np.shape[1]
    codebooks = np.array(
        [
            [
                [(c - 3.5) * 0.1 + d * 0.01 * j for j in range(dim // 4)]
                for c in range(8)
            ]
            for d in range(4)
        ]
    )
    cfg = IndexConfig(num_partitions=P, num_divisions=4, num_codes=8, seed=0)
    pq = assemble_index(emb.select("vec_id", "embedding"), cent_np, codebooks, cfg)

    hits_sq = hits_pq = total = 0
    for qid in (3, 11, 23):
        qv = [
            float(x)
            for x in emb.where(F.col("vec_id") == qid).first()["embedding"]
        ]
        exact = {r.vec_id for r in flat_knn(emb, qv, k=10).collect()}
        sq = {
            r.vec_id
            for r in ivfsq_query(model, qv, k=10, nprobe=4).collect()
        }
        pqr = {
            r.vector_id
            for r in ann_query(pq, [(qid, qv)], k=10, nprobe=4).collect()
        }
        hits_sq += len(exact & sq)
        hits_pq += len(exact & pqr)
        total += 10
    assert hits_sq >= hits_pq
    assert hits_sq >= int(0.6 * total)  # probe-limited floor


# ---------------------------------------------------------------------------
# per-cell bounds (VERDICT r7 #6)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def model_cell(emb, cent):
    from flechasdb_spark.plans.ivfsq import build_ivfsq

    return build_ivfsq(emb, cent, bounds="per_cell")


def _mse(emb, model):
    """Mean squared reconstruction error of an IVF+SQ model."""
    from flechasdb_spark.operators.sq import sq_decode_cols
    from flechasdb_spark.plans.ivf import cent_col_name
    from flechasdb_spark.plans.ivfsq import _recon

    cc = cent_col_name(model.centroids)
    c = model.encoded.join(F.broadcast(model.centroids), "partition_id")
    if model.cell_bounds is not None:
        c = c.join(F.broadcast(model.cell_bounds), "partition_id")
        rec = F.zip_with(
            F.col(cc).cast("array<double>"),
            sq_decode_cols("codes", "lo", "hi"),
            lambda a, b: a + b,
        )
    else:
        rec = _recon("codes", cc, model.lo, model.hi)
    err = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            rec,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        c.join(emb, "vec_id").select(err.alias("e")).agg(F.avg("e")).first()[0]
    )


def test_per_cell_bounds_recall_and_distortion_gate(
    spark, emb, model, model_cell
):
    """The per-cell trade, property-gated (the r7 IVF+SQ8-vs-PQ gate
    pattern): at EQUAL nprobe, per-cell bounds recall@10 >= global
    bounds recall@10 (summed over queries), and reconstruction MSE is
    strictly lower — each cell's 256 levels cover only its own
    residual spread."""
    from flechasdb_spark.operators.knn import flat_knn
    from flechasdb_spark.plans.ivfsq import ivfsq_query

    for nprobe in (2, 4):
        hits_c = hits_g = 0
        for qid in (3, 11, 23):
            qv = [
                float(x)
                for x in emb.where(F.col("vec_id") == qid).first()["embedding"]
            ]
            exact = {r.vec_id for r in flat_knn(emb, qv, k=10).collect()}
            got_g = {
                r.vec_id
                for r in ivfsq_query(model, qv, k=10, nprobe=nprobe).collect()
            }
            got_c = {
                r.vec_id
                for r in ivfsq_query(
                    model_cell, qv, k=10, nprobe=nprobe
                ).collect()
            }
            hits_g += len(exact & got_g)
            hits_c += len(exact & got_c)
        assert hits_c >= hits_g, (nprobe, hits_c, hits_g)
    assert _mse(emb, model_cell) < _mse(emb, model)


def test_per_cell_save_load_roundtrip(spark, emb, model_cell, tmp_path):
    """Persist -> load -> query equality for the per-cell variant; the
    manifest records the bounds mode and the bounds table rides along."""
    from flechasdb_spark.plans.ivfsq import (
        ivfsq_query,
        load_ivfsq,
        save_ivfsq,
    )

    path = str(tmp_path / "ivfsq_cell_idx")
    save_ivfsq(model_cell, path)
    loaded = load_ivfsq(spark, path)
    assert loaded.lo is None and loaded.cell_bounds is not None
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    a = [
        (r.vec_id, r.partition_id, r.squared_distance)
        for r in ivfsq_query(model_cell, qv, k=10, nprobe=3, round_to=6).collect()
    ]
    b = [
        (r.vec_id, r.partition_id, r.squared_distance)
        for r in ivfsq_query(loaded, qv, k=10, nprobe=3, round_to=6).collect()
    ]
    assert a == b


# ---------------------------------------------------------------------------
# batch + filtered serving (r8): parity with ann_query's modes
# ---------------------------------------------------------------------------


def test_batch_query_matches_per_query_loop(spark, emb, model, model_cell):
    """ivfsq_query_batch(Q queries) == Q ivfsq_query calls, under both
    bounds modes; the per-query top-k runs as WindowGroupLimit so the
    rank exchange is candidate-bounded."""
    from flechasdb_spark.plans.ivfsq import ivfsq_query, ivfsq_query_batch

    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(3, 11, 23))
        .orderBy("vec_id")
        .collect()
    ]
    for m in (model, model_cell):
        batch = ivfsq_query_batch(m, qs, k=5, nprobe=3, round_to=6)
        got = {
            (r.query_id, r.rank): (r.vec_id, r.partition_id, r.squared_distance)
            for r in batch.collect()
        }
        for qid, qv in qs:
            solo = ivfsq_query(m, qv, k=5, nprobe=3, round_to=6).collect()
            for rank, r in enumerate(solo, start=1):
                assert got[(qid, rank)] == (
                    r.vec_id,
                    r.partition_id,
                    r.squared_distance,
                ), (qid, rank)
    plan = (
        ivfsq_query_batch(model, qs, k=5, nprobe=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_batch_query_filtered_returns_k_qualifying(spark, emb, model):
    """The where pre-filter applies BEFORE scoring: every returned row
    satisfies it and each query still fills k ranks (pre-filtering,
    not post-filtering a top-k)."""
    from flechasdb_spark.plans.ivfsq import ivfsq_query_batch

    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(0, 11)).collect()
    ]
    rows = ivfsq_query_batch(
        model, qs, k=5, nprobe=4, where=F.col("vec_id") % 2 == 0
    ).collect()
    assert all(r.vec_id % 2 == 0 for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_batch_query_prunes_partitions_at_rest(spark, emb, model, tmp_path):
    """The batch path's union-of-probes filter is a LITERAL isin, so a
    saved index's scan prunes to the probed partition_id= directories
    (PartitionFilters carries the IN list, not just isnotnull)."""
    from flechasdb_spark.plans.ivfsq import (
        ivfsq_query_batch,
        load_ivfsq,
        save_ivfsq,
    )

    path = str(tmp_path / "ivfsq_batch_idx")
    save_ivfsq(model, path)
    loaded = load_ivfsq(spark, path)
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(0, 11)).collect()
    ]
    plan = (
        ivfsq_query_batch(loaded, qs, k=5, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters: [" in ln
    ]
    assert scan_lines, plan
    assert any(
        "partition_id" in ln and " IN (" in ln.split("PartitionFilters")[1]
        for ln in scan_lines
    ), scan_lines


# ---------------------------------------------------------------------------
# shard-parallel build: assemble + merge (r8)
# ---------------------------------------------------------------------------


def test_merge_overlap_and_guards(spark, emb, cent, model_cell):
    """merge_ivfsq: overlapping ids resolve by `prefer` via one
    anti-join; frozen-state mismatches refuse to merge (global vs
    per-cell, different bounds tables, different global bounds)."""
    from flechasdb_spark.plans.ivfsq import (
        assemble_ivfsq,
        build_ivfsq,
        merge_ivfsq,
    )

    lo_half = assemble_ivfsq(emb.where(F.col("vec_id") < 300), model_cell)
    hi_half = assemble_ivfsq(emb.where(F.col("vec_id") >= 200), model_cell)
    merged = merge_ivfsq(lo_half, hi_half, prefer="other")
    # overlap ids 200..299 kept once; total = distinct corpus ids
    assert merged.encoded.count() == emb.count()
    assert (
        merged.encoded.groupBy("vec_id").count().where("count > 1").count()
        == 0
    )

    mg = build_ivfsq(emb, cent)  # global bounds
    with pytest.raises(ValueError, match="global-bounds with per-cell"):
        merge_ivfsq(mg, model_cell)
    # a DIFFERENT bounds DataFrame object with IDENTICAL content (an
    # independent training pass over the same frozen inputs — the
    # save/load/multi-driver shape, ADVICE r8 #5) merges via the O(P)
    # content fingerprint instead of object identity
    other_cell = build_ivfsq(emb, cent, bounds="per_cell")
    assert other_cell.cell_bounds is not model_cell.cell_bounds
    same = merge_ivfsq(model_cell, other_cell, prefer="other")
    assert same.encoded.count() == emb.count()
    # genuinely different per-cell bounds (trained on a subset) refuse
    diff_cell = build_ivfsq(
        emb.where(F.col("vec_id") < 100), cent, bounds="per_cell"
    )
    with pytest.raises(ValueError, match="per-cell bounds differ"):
        merge_ivfsq(model_cell, diff_cell)
    # ... unless the caller asserts same-bounds out of band
    assert (
        merge_ivfsq(
            model_cell, diff_cell, assume_same_bounds=True, prefer="other"
        ).encoded
        is not None
    )
    mg2 = build_ivfsq(
        emb.where(F.col("vec_id") < 100), cent
    )  # different global bounds
    with pytest.raises(ValueError, match="bounds differ"):
        merge_ivfsq(mg, mg2)


def test_disjoint_merge_is_pure_union(spark, emb, model_cell):
    """assume_disjoint=True keeps the merge a plan union: no Join
    operator appears in the merged encoded plan."""
    from flechasdb_spark.plans.ivfsq import assemble_ivfsq, merge_ivfsq

    even = assemble_ivfsq(emb.where(F.col("vec_id") % 2 == 0), model_cell)
    odd = assemble_ivfsq(emb.where(F.col("vec_id") % 2 == 1), model_cell)
    merged = merge_ivfsq(even, odd, assume_disjoint=True)
    # the encode itself joins bounds/centroids; gate on the TOP-LEVEL
    # union shape instead: logical plan root is a Union of two branches
    lp = merged.encoded._jdf.queryExecution().logical().toString()
    assert lp.startswith("Union") or "\nUnion" in lp.splitlines()[0] or "Union" in lp.splitlines()[0]
    assert merged.encoded.count() == emb.count()


# ---------------------------------------------------------------------------
# r9: frozen-encode missing-cell guard, fingerprint merge after
# save/load, batch-serving hardening (empty batch, distributed probes)
# ---------------------------------------------------------------------------


def test_assemble_missing_cell_guard(spark, emb, model_cell):
    """ADVICE r8 #1: a vector assigned to a cell with no frozen bounds
    row must never vanish silently — error mode fails loudly naming
    the cell; zero mode keeps it with centroid-only codes."""
    from flechasdb_spark.plans.ivfsq import IVFSQModel, assemble_ivfsq

    # freeze a model whose bounds table LACKS cell 0 (the shape that
    # arises when the bounds were trained on a sample that left a
    # cell empty, then the frozen model meets unseen data)
    holey = IVFSQModel(
        centroids=model_cell.centroids,
        lo=None,
        hi=None,
        encoded=model_cell.encoded,
        cell_bounds=model_cell.cell_bounds.where("partition_id != 0"),
    )
    arrivals = emb  # vec_id 0 IS centroid 0 -> lands in cell 0
    with pytest.raises(Exception, match="no frozen bounds row for cell"):
        assemble_ivfsq(arrivals, holey).encoded.collect()
    # zero mode: nothing dropped, the affected rows carry all-zero
    # codes (decode reconstructs the bare centroid)
    enc = assemble_ivfsq(arrivals, holey, missing_cell="zero").encoded
    assert enc.count() == emb.count()
    hit = enc.where("partition_id = 0")
    assert hit.count() > 0
    assert (
        hit.where(
            F.exists(F.col("codes"), lambda c: c != F.lit(0))
        ).count()
        == 0
    )
    # untouched cells encode exactly as the intact model does
    ref = {
        r.vec_id: list(r.codes)
        for r in model_cell.encoded.where("partition_id != 0").collect()
    }
    got = {
        r.vec_id: list(r.codes)
        for r in enc.where("partition_id != 0").collect()
    }
    assert got == ref


def test_merge_after_save_load(spark, emb, cent, tmp_path):
    """The realistic 100 TB multi-driver build (ADVICE r8 #5): shards
    assembled from the SAME frozen model but reloaded from disk in
    separate sessions carry distinct bounds DataFrames — the content
    fingerprint lets them merge; the merged index answers queries
    identically to the single-shot build."""
    from flechasdb_spark.plans.ivfsq import (
        assemble_ivfsq,
        build_ivfsq,
        ivfsq_query,
        load_ivfsq,
        merge_ivfsq,
        save_ivfsq,
    )

    model = build_ivfsq(emb, cent, bounds="per_cell")
    even = assemble_ivfsq(emb.where(F.col("vec_id") % 2 == 0), model)
    odd = assemble_ivfsq(emb.where(F.col("vec_id") % 2 == 1), model)
    pa, pb = str(tmp_path / "shard_a"), str(tmp_path / "shard_b")
    save_ivfsq(even, pa)
    save_ivfsq(odd, pb)
    la, lb = load_ivfsq(spark, pa), load_ivfsq(spark, pb)
    assert la.cell_bounds is not lb.cell_bounds
    merged = merge_ivfsq(la, lb, assume_disjoint=True)
    qv = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    want = [
        (r.vec_id, r.squared_distance)
        for r in ivfsq_query(model, qv, k=10, nprobe=3, round_to=6).collect()
    ]
    got = [
        (r.vec_id, r.squared_distance)
        for r in ivfsq_query(merged, qv, k=10, nprobe=3, round_to=6).collect()
    ]
    assert got == want


def test_batch_empty_queries(spark, emb, model):
    """ADVICE r8 #3: an empty batch is a legal call — empty result
    with the contract schema, no numpy shape error. Probing no cells
    (nprobe=0) likewise scans nothing and returns no rows."""
    from flechasdb_spark.plans.ivfsq import ivfsq_query, ivfsq_query_batch

    out = ivfsq_query_batch(model, [], k=5, nprobe=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id",
        "vec_id",
        "partition_id",
        "squared_distance",
        "rank",
    ]
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    assert ivfsq_query_batch(model, [(3, qv)], k=5, nprobe=0).count() == 0
    assert ivfsq_query(model, qv, k=5, nprobe=0).count() == 0


def test_batch_distributed_probe_parity(spark, emb, model, model_cell, tmp_path):
    """VERDICT r8 #2: probe selection as a distributed job
    (collect_centroids=False composes plans.ivf.select_probes_df)
    returns EXACTLY the driver-selected result — same probes under
    the shared left-fold summation, same ranks — and the scan still
    prunes at rest via the literal IN PartitionFilter."""
    from flechasdb_spark.plans.ivfsq import (
        ivfsq_query_batch,
        load_ivfsq,
        save_ivfsq,
    )

    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(0, 11, 42)).collect()
    ]
    for m in (model, model_cell):
        a = ivfsq_query_batch(m, qs, k=7, nprobe=3, round_to=6).collect()
        b = ivfsq_query_batch(
            m, qs, k=7, nprobe=3, round_to=6, collect_centroids=False
        ).collect()
        key = lambda r: (r.query_id, r.rank)
        assert sorted(
            [(r.query_id, r.vec_id, r.squared_distance, r.rank) for r in a]
        ) == sorted(
            [(r.query_id, r.vec_id, r.squared_distance, r.rank) for r in b]
        )
    # pruning gate on the distributed-probe path over the at-rest index
    path = str(tmp_path / "ivfsq_distprobe_idx")
    save_ivfsq(model, path)
    loaded = load_ivfsq(spark, path)
    plan = (
        ivfsq_query_batch(
            loaded, qs, k=5, nprobe=2, collect_centroids=False
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters: [" in ln
    ]
    assert scan_lines, plan
    assert any(
        "partition_id" in ln and " IN (" in ln.split("PartitionFilters")[1]
        for ln in scan_lines
    ), scan_lines


def test_sq4_levels_dial(spark, emb, cent, tmp_path):
    """r9: bits=4 (FAISS QT_4bit analogue) — codes bounded by 15,
    roundtrip through save/load preserves the depth, recall stays
    probe-limited-reasonable at 16 levels on residuals, and shards of
    different depths refuse to merge."""
    from flechasdb_spark.operators.knn import flat_knn
    from flechasdb_spark.plans.ivfsq import (
        build_ivfsq,
        ivfsq_query,
        load_ivfsq,
        merge_ivfsq,
        save_ivfsq,
    )

    m4 = build_ivfsq(emb, cent, bits=4)
    assert m4.levels == 15
    row = m4.encoded.select(
        F.max(F.array_max("codes")).alias("mx"),
        F.min(F.array_min("codes")).alias("mn"),
    ).first()
    assert 0 <= row.mn and row.mx <= 15

    path = str(tmp_path / "ivfsq4")
    save_ivfsq(m4, path)
    loaded = load_ivfsq(spark, path)
    assert loaded.levels == 15
    qv = [float(x) for x in emb.where(F.col("vec_id") == 11).first()["embedding"]]
    a = [(r.vec_id, r.squared_distance)
         for r in ivfsq_query(m4, qv, k=10, nprobe=6, round_to=6).collect()]
    b = [(r.vec_id, r.squared_distance)
         for r in ivfsq_query(loaded, qv, k=10, nprobe=6, round_to=6).collect()]
    assert a == b
    # 16-level residuals still track exact distances at modest nprobe
    exact = {r.vec_id for r in flat_knn(emb, qv, k=10).collect()}
    got = {v for v, _ in a}
    assert len(exact & got) >= 7

    m8 = build_ivfsq(emb, cent, bits=8)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="quantization depth differs"):
        merge_ivfsq(m8, m4)
    with _pytest.raises(ValueError, match="bits must be in"):
        build_ivfsq(emb, cent, bits=9)


def test_range_query_semantics(spark, emb, model):
    """r9 radius search: at nprobe=P the IVF+SQ range result equals
    the brute-force filter over reconstructed distances; every emitted
    distance respects the radius; limit keeps the nearest; the exact
    operator (knn.range_search) agrees with flat_knn on the overlap."""
    from flechasdb_spark.operators.knn import flat_knn, range_search
    from flechasdb_spark.plans.ivfsq import ivfsq_range_query

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    ids, _, dist = _np_pipeline(emb, qv)
    r = 1.6
    want = sorted(
        (float(d), int(i)) for i, d in zip(ids, dist) if round(d, 6) <= r
    )
    got = ivfsq_range_query(model, qv, radius=r, nprobe=P, round_to=6).collect()
    assert [(g.vec_id) for g in got] == [i for _, i in want]
    assert all(g.squared_distance <= r for g in got)
    capped = ivfsq_range_query(
        model, qv, radius=r, nprobe=P, round_to=6, limit=3
    ).collect()
    assert [c.vec_id for c in capped] == [i for _, i in want[:3]]

    exact = range_search(emb, qv, radius=r, round_to=6).collect()
    assert all(e.squared_distance <= r for e in exact)
    topk = flat_knn(emb, qv, k=len(exact), round_to=6).collect()
    assert [e.vec_id for e in exact] == [t.vec_id for t in topk]


def test_range_query_batch_parity(spark, emb, model, model_cell):
    """Batch radius search == per-query solo radius search (both
    bounds modes, driver and distributed probe selection); empty batch
    returns the contract schema; limit_per_query keeps the nearest.
    The coarse round_to=1 makes rounded distances tie, so the solo
    limit must order like the batch rank: rounded distance, then id."""
    from flechasdb_spark.plans.ivfsq import (
        ivfsq_range_query,
        ivfsq_range_query_batch,
    )

    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(3, 42)).collect()
    ]
    for rt in (6, 1):
        for m in (model, model_cell):
            for dist_probe in (False, True):
                batch = ivfsq_range_query_batch(
                    m, qs, radius=1.6, nprobe=4, round_to=rt,
                    collect_centroids=not dist_probe,
                ).collect()
                got = sorted(
                    (r.query_id, r.vec_id, r.squared_distance) for r in batch
                )
                want = sorted(
                    (qid, r.vec_id, r.squared_distance)
                    for qid, qv in qs
                    for r in ivfsq_range_query(
                        m, qv, radius=1.6, nprobe=4, round_to=rt
                    ).collect()
                )
                assert got == want and len(got) > 0

        capped = ivfsq_range_query_batch(
            model, qs, radius=1.6, nprobe=4, round_to=rt, limit_per_query=2
        ).collect()
        by_q = {}
        for r in capped:
            by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
        solo = {
            qid: [
                r.vec_id
                for r in ivfsq_range_query(
                    model, qv, radius=1.6, nprobe=4, round_to=rt, limit=2
                ).collect()
            ]
            for qid, qv in qs
        }
        for qid, pairs in by_q.items():
            assert [v for _, v in sorted(pairs)] == solo[qid], (rt, qid)

    empty = ivfsq_range_query_batch(model, [], radius=1.0, nprobe=2)
    assert empty.count() == 0 and "squared_distance" in empty.columns


def test_rerank_recovers_sq4_recall(spark, emb, cent):
    """r9 exact re-rank (parity with the PQ refinement modes): on the
    coarse 16-level SQ4 codes, rerank against the originals recovers
    recall (>= the un-reranked result, and >= 9/10 on the fixture);
    emitted distances become EXACT (equal to flat_knn's); the batch
    path agrees with the solo path."""
    from flechasdb_spark.operators.knn import flat_knn
    from flechasdb_spark.plans.ivfsq import (
        build_ivfsq,
        ivfsq_query,
        ivfsq_query_batch,
    )

    m4 = build_ivfsq(emb, cent, bits=4)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 11).first()["embedding"]]
    exact_rows = flat_knn(emb, qv, k=10, round_to=6).collect()
    exact_ids = {r.vec_id for r in exact_rows}
    exact_d = {r.vec_id: r.squared_distance for r in exact_rows}

    plain = {r.vec_id for r in ivfsq_query(m4, qv, k=10, nprobe=6).collect()}
    rer = ivfsq_query(
        m4, qv, k=10, nprobe=6, rerank=emb, rerank_factor=4, round_to=6
    ).collect()
    rer_ids = {r.vec_id for r in rer}
    assert len(exact_ids & rer_ids) >= max(len(exact_ids & plain), 9)
    for r in rer:
        if r.vec_id in exact_d:  # reranked distances are the exact ones
            assert r.squared_distance == exact_d[r.vec_id]

    batch = ivfsq_query_batch(
        m4, [(11, qv)], k=10, nprobe=6, rerank=emb, rerank_factor=4,
        round_to=6,
    ).collect()
    assert [(r.vec_id, r.squared_distance) for r in sorted(batch, key=lambda r: r.rank)] == [
        (r.vec_id, r.squared_distance) for r in rer
    ]


def test_ivfsq_upsert_delete_lifecycle(spark, emb, cent, tmp_path):
    """r9 SQ maintenance: upsert replaces/adds under the frozen model
    touching only the affected cells; delete removes victims and
    emptied cell dirs; the served results equal a fresh build over the
    post-maintenance corpus ENCODED WITH THE FROZEN BOUNDS; streaming
    (ingest_batch=) layouts are refused."""
    import glob

    from flechasdb_spark.operators.maintenance import (
        ivfsq_delete,
        ivfsq_upsert,
    )
    from flechasdb_spark.plans.ivfsq import (
        IVFSQModel,
        assemble_ivfsq,
        build_ivfsq,
        ivfsq_query,
        load_ivfsq,
        save_ivfsq,
    )

    model = build_ivfsq(emb, cent, bounds="per_cell")
    path = str(tmp_path / "sq_maint")
    save_ivfsq(model, path)

    # upsert: replace id 10 with id 11's vector, add two new ids
    up = emb.where(F.col("vec_id") == 11).select(
        F.lit(10).cast("long").alias("vec_id"), "embedding"
    ).unionByName(
        emb.where(F.col("vec_id") < 2).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )
    touched = ivfsq_upsert(spark, model, path, up)
    assert touched  # at least one cell rewritten
    loaded = load_ivfsq(spark, path)
    n = loaded.encoded.count()
    assert n == emb.count() + 2
    assert loaded.encoded.where("vec_id = 10").count() == 1

    # served results == frozen-model encode of the post-upsert corpus
    corpus = emb.where(F.col("vec_id") != 10).select("vec_id", "embedding") \
        .unionByName(up.select("vec_id", "embedding"))
    want_model = assemble_ivfsq(corpus, model)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 11).first()["embedding"]]
    want = [(r.vec_id, r.squared_distance)
            for r in ivfsq_query(want_model, qv, k=10, nprobe=4, round_to=6).collect()]
    got = [(r.vec_id, r.squared_distance)
           for r in ivfsq_query(loaded, qv, k=10, nprobe=4, round_to=6).collect()]
    assert got == want

    # delete: victims disappear; deleting ALL of one cell removes its dir
    cell0_ids = [
        int(r.vec_id)
        for r in loaded.encoded.where("partition_id = 0").collect()
    ]
    victims = sorted(set(cell0_ids) | {100000})
    touched = ivfsq_delete(spark, path, victims)
    assert 0 in touched
    after = spark.read.parquet(f"{path}/index")
    assert after.where(F.col("vec_id").isin(victims)).count() == 0
    assert not glob.glob(f"{path}/index/partition_id=0")
    assert after.count() == n - len(victims)

    # streaming layout refused
    two_level = IVFSQModel(
        centroids=model.centroids, lo=None, hi=None,
        encoded=model.encoded, cell_bounds=model.cell_bounds,
    )
    sp = str(tmp_path / "streaming_idx")
    model.encoded.limit(10).withColumn(
        "ingest_batch", F.lit(0)
    ).write.partitionBy("ingest_batch", "partition_id").parquet(
        f"{sp}/index"
    )
    with pytest.raises(ValueError, match="single-level save_ivfsq layout"):
        ivfsq_upsert(spark, two_level, sp, up)
    with pytest.raises(ValueError, match="single-level save_ivfsq layout"):
        ivfsq_delete(spark, sp, [1])


def test_range_query_where_filter(spark, emb, model):
    """r9: the radius paths share the filtered-search mode — the
    pre-filter applies BEFORE scoring, solo == batch, results are the
    unfiltered results minus the excluded ids."""
    from flechasdb_spark.plans.ivfsq import (
        ivfsq_range_query,
        ivfsq_range_query_batch,
    )

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    allr = ivfsq_range_query(model, qv, radius=1.6, nprobe=P, round_to=6).collect()
    evn = ivfsq_range_query(
        model, qv, radius=1.6, nprobe=P, round_to=6,
        where=F.col("vec_id") % 2 == 0,
    ).collect()
    assert all(r.vec_id % 2 == 0 for r in evn)
    assert [(r.vec_id, r.squared_distance) for r in evn] == [
        (r.vec_id, r.squared_distance) for r in allr if r.vec_id % 2 == 0
    ]
    batch = ivfsq_range_query_batch(
        model, [(3, qv)], radius=1.6, nprobe=P, round_to=6,
        where=F.col("vec_id") % 2 == 0,
    ).collect()
    assert sorted((r.vec_id, r.squared_distance) for r in batch) == sorted(
        (r.vec_id, r.squared_distance) for r in evn
    )


def test_attr_cols_lifecycle(spark, emb, cent, tmp_path):
    """r9 attribute columns (the PQ side's B10 story on SQ): attrs
    ride the encoded rows through build, save/load, filtered search
    (pre-filter BEFORE scoring), assemble, and upsert; an upsert that
    forgets them is refused."""
    from flechasdb_spark.operators.maintenance import ivfsq_upsert
    from flechasdb_spark.plans.ivfsq import (
        assemble_ivfsq,
        build_ivfsq,
        ivfsq_query,
        ivfsq_query_batch,
        load_ivfsq,
        save_ivfsq,
    )

    model = build_ivfsq(emb, cent, bounds="per_cell", attr_cols=("label",))
    assert "label" in model.encoded.columns
    path = str(tmp_path / "sq_attrs")
    save_ivfsq(model, path)
    loaded = load_ivfsq(spark, path)
    assert "label" in loaded.encoded.columns

    qs = [(3, [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]])]
    want_label = int(emb.where(F.col("vec_id") == 3).first()["label"])
    hits = ivfsq_query_batch(
        loaded, qs, k=5, nprobe=P, where=F.col("label") == want_label,
        round_to=6,
    ).collect()
    assert len(hits) == 5
    lbl = {int(r["label"]) for r in emb.join(
        spark.createDataFrame([(r.vec_id,) for r in hits], "vec_id long"),
        "vec_id", "left_semi").select("label").collect()}
    assert lbl == {want_label}
    # solo filtered search (r10, VERDICT r9 #8): same predicate through
    # ivfsq_query(where=...) returns exactly the batch-of-one result
    solo = ivfsq_query(
        loaded, qs[0][1], k=5, nprobe=P,
        where=F.col("label") == want_label, round_to=6,
    ).collect()
    assert [(r.vec_id, r.squared_distance) for r in solo] == [
        (r.vec_id, r.squared_distance)
        for r in sorted(hits, key=lambda r: r["rank"])
    ]

    shard = assemble_ivfsq(
        emb.where(F.col("vec_id") % 2 == 0), model, attr_cols=("label",)
    )
    assert "label" in shard.encoded.columns

    up = emb.where(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding", "label"
    )
    with pytest.raises(ValueError, match="attribute columns"):
        ivfsq_upsert(spark, model, path, up)  # attrs forgotten
    touched = ivfsq_upsert(spark, model, path, up, attr_cols=("label",))
    assert touched
    after = spark.read.parquet(f"{path}/index")
    assert "label" in after.columns
    assert after.where("vec_id >= 500000").count() == 2


def test_solo_where_filter_matches_batch(spark, emb, model):
    """r10 (VERDICT r9 #8): solo filtered search — `ivfsq_query(where=...)`
    returns only qualifying rows and matches the batch-of-one filtered
    path exactly, so the solo API no longer reads as if filtered search
    requires batching."""
    from flechasdb_spark.plans.ivfsq import ivfsq_query, ivfsq_query_batch

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    pred = F.col("vec_id") % 2 == 0
    solo = ivfsq_query(
        model, qv, k=7, nprobe=P, round_to=6, where=pred
    ).collect()
    assert len(solo) == 7
    assert all(r.vec_id % 2 == 0 for r in solo)
    batch = ivfsq_query_batch(
        model, [(3, qv)], k=7, nprobe=P, round_to=6, where=pred
    ).collect()
    assert [(r.vec_id, r.squared_distance) for r in solo] == [
        (r.vec_id, r.squared_distance)
        for r in sorted(batch, key=lambda r: r.rank)
    ]
    # unfiltered solo differs (the predicate actually bites)
    plain = ivfsq_query(model, qv, k=7, nprobe=P, round_to=6).collect()
    assert any(r.vec_id % 2 == 1 for r in plain)


def test_range_batch_empty_schema_matches_nonempty(spark, model, emb):
    """ADVICE r9 #3: the empty-batch early return of
    ivfsq_range_query_batch must carry the SAME schema as the
    non-empty path — including the rank column when limit_per_query
    is set — so per-shard unions don't depend on batch emptiness."""
    from flechasdb_spark.plans.ivfsq import ivfsq_range_query_batch

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    nonempty = ivfsq_range_query_batch(
        model, [(3, qv)], radius=1.6, nprobe=2, limit_per_query=2
    )
    empty = ivfsq_range_query_batch(
        model, [], radius=1.6, nprobe=2, limit_per_query=2
    )
    assert empty.columns == nonempty.columns
    assert "rank" in empty.columns
    # and the union is legal both ways
    assert empty.unionByName(nonempty).count() == nonempty.count()
    # without the limit neither side carries rank
    e2 = ivfsq_range_query_batch(model, [], radius=1.6, nprobe=2)
    n2 = ivfsq_range_query_batch(model, [(3, qv)], radius=1.6, nprobe=2)
    assert e2.columns == n2.columns and "rank" not in e2.columns


def test_packed_save_load_roundtrip_and_query_equality(
    spark, emb, cent, model, tmp_path
):
    """r10 at-rest packing (VERDICT r9 #3): save_ivfsq(pack_codes=True)
    stores codes as binary (1 byte/code SQ8, 2 codes/byte SQ4), the
    load-side hex unpack is EXACT (codes equal element-wise), and
    query results are unchanged vs the unpacked store. Size is NOT
    asserted here — at fixture scale Parquet's own dictionary/
    bit-packing dominates; the honest at-rest measurement (64k x 64:
    SQ4 packed halves the bytes, SQ8 packed does not beat Parquet's
    encodings) lives in SCALING.md §r10."""
    from flechasdb_spark.plans.ivfsq import (
        build_ivfsq,
        ivfsq_query,
        load_ivfsq,
        save_ivfsq,
    )

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    for bits, m in ((8, model), (4, build_ivfsq(emb, cent, bits=4))):
        plain = str(tmp_path / f"plain{bits}")
        packed = str(tmp_path / f"packed{bits}")
        save_ivfsq(m, plain)
        save_ivfsq(m, packed, pack_codes=True)
        at_rest = spark.read.parquet(f"{packed}/index")
        assert "codes_bin" in at_rest.columns  # binary at rest
        assert "codes" not in at_rest.columns
        assert at_rest.schema["codes_bin"].dataType.simpleString() == "binary"
        lp = load_ivfsq(spark, plain)
        lk = load_ivfsq(spark, packed)
        a = {r.vec_id: list(r.codes) for r in lp.encoded.collect()}
        b = {r.vec_id: list(r.codes) for r in lk.encoded.collect()}
        assert a == b  # exact roundtrip through the binary form
        ra = [
            (r.vec_id, r.squared_distance)
            for r in ivfsq_query(lp, qv, k=10, nprobe=3, round_to=6).collect()
        ]
        rb = [
            (r.vec_id, r.squared_distance)
            for r in ivfsq_query(lk, qv, k=10, nprobe=3, round_to=6).collect()
        ]
        assert ra == rb
    # nibble mode also survives an odd dimension (pad nibble trimmed)
    from flechasdb_spark.operators.sq import pack_codes_expr, unpack_codes_expr

    odd = spark.createDataFrame(
        [(1, [0, 15, 7]), (2, [3, 1, 15])], "id int, codes array<smallint>"
    )
    back = odd.select(
        "id",
        unpack_codes_expr(
            pack_codes_expr("codes", "nibble"), 3, "nibble"
        ).alias("c2"),
        "codes",
    ).collect()
    assert all(list(r.c2) == list(r.codes) for r in back)


def test_range_rerank_exact_semantics(spark, emb, cent):
    """r10 range rerank: quantized pre-filter at radius*slack + exact
    verify at radius == the EXACT range_search result restricted to
    probed cells. On the full-probe SQ4 fixture (coarse codes, where
    the quantized filter alone both over- and under-selects) the
    reranked result equals knn.range_search exactly; solo == batch."""
    from flechasdb_spark.operators.knn import flat_knn, range_search
    from flechasdb_spark.plans.ivfsq import (
        build_ivfsq,
        ivfsq_range_query,
        ivfsq_range_query_batch,
    )

    model4 = build_ivfsq(emb, cent, bits=4)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    r = sorted(
        x.squared_distance
        for x in flat_knn(emb, qv, k=12, round_to=6).collect()
    )[-1]
    exact = sorted(
        (x.vec_id, x.squared_distance)
        for x in range_search(emb, qv, radius=r, round_to=6).collect()
    )
    got = sorted(
        (x.vec_id, x.squared_distance)
        for x in ivfsq_range_query(
            model4, qv, radius=r, nprobe=P, round_to=6,
            rerank=emb, rerank_slack=2.0,
        ).collect()
    )
    assert got == exact
    # without rerank the quantized distances differ from exact ones
    plain = sorted(
        (x.vec_id, x.squared_distance)
        for x in ivfsq_range_query(
            model4, qv, radius=r, nprobe=P, round_to=6
        ).collect()
    )
    assert plain != exact
    batch = sorted(
        (x.vec_id, x.squared_distance)
        for x in ivfsq_range_query_batch(
            model4, [(3, qv)], radius=r, nprobe=P, round_to=6,
            rerank=emb, rerank_slack=2.0,
        ).collect()
    )
    assert batch == exact
    # ordered limit applies AFTER the exact re-score
    lim = ivfsq_range_query(
        model4, qv, radius=r, nprobe=P, round_to=6,
        rerank=emb, rerank_slack=2.0, limit=4,
    ).collect()
    assert [(x.vec_id, x.squared_distance) for x in lim] == sorted(
        exact, key=lambda t: (t[1], t[0])
    )[:4]


def test_cosine_serving_matches_exact_cosine(spark, emb, cent):
    """r10 cosine-metric serving (normalize-then-L2): at full probe
    with exact re-rank over the unit vectors, the index's ranking
    equals the exact cosine top-k, and 1 - d/2 equals the true cosine
    similarity (unit-vector identity)."""
    from flechasdb_spark.functions.linalg import cosine_similarity, normalize
    from flechasdb_spark.plans.ivfsq import build_ivfsq, ivfsq_query

    unit = emb.select("vec_id", normalize(F.col("embedding")).alias("embedding"))
    ucent = unit.where(F.col("vec_id") < P).select(
        F.col("vec_id").cast("int").alias("partition_id"),
        F.col("embedding").alias("centroid"),
    )
    model = build_ivfsq(unit, ucent)
    q0 = unit.where(F.col("vec_id") == 9).first()
    qv = [float(x) for x in q0["embedding"]]
    got = ivfsq_query(
        model, qv, k=10, nprobe=P, round_to=6, rerank=unit
    ).collect()
    # exact cosine ranking over the ORIGINAL vectors
    qcol = F.array(*[F.lit(float(x)) for x in
                     emb.where(F.col("vec_id") == 9).first()["embedding"]])
    exact = (
        emb.select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), qcol), 6).alias("c"),
        )
        .orderBy(F.col("c").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    )
    assert [r.vec_id for r in got] == [r.vec_id for r in exact]
    # unit-vector identity: 1 - d/2 == cosine (to rounding)
    for g, e in zip(got, exact):
        assert abs((1.0 - g.squared_distance / 2.0) - e.c) < 5e-5


def test_auto_nprobe_picks_smallest_sufficient(spark, emb, model):
    """r10 auto_nprobe: returns the smallest candidate whose mean
    recall@k meets the target (every earlier arm in the curve is
    below it), early-stops (no arms recorded past the answer), and
    returns None with the full curve when the target is unreachable."""
    from flechasdb_spark.operators.eval import auto_nprobe
    from flechasdb_spark.operators.knn import knn_join
    from flechasdb_spark.plans.ivfsq import ivfsq_query_batch

    qdf = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvector"),
    )
    exact = knn_join(qdf, emb, k=5).select("query_id", "vec_id")
    qs = [
        (int(r.query_id), [float(x) for x in r.qvector])
        for r in qdf.collect()
    ]

    def search(np_):
        return ivfsq_query_batch(model, qs, k=5, nprobe=np_).select(
            "query_id", "vec_id"
        )

    best, curve = auto_nprobe(exact, search, [1, 2, 4, 8], 0.9)
    assert best is not None
    assert dict(curve)[best] >= 0.9
    for np_, r in curve:
        if np_ < best:
            assert r < 0.9
    assert [n for n, _ in curve] == sorted(n for n, _ in curve)
    assert curve[-1][0] == best  # early stop: nothing past the answer
    # full probe reaches recall 1.0 on SQ8 (near-lossless distances)
    assert dict(auto_nprobe(exact, search, [8], 0.99)[1])[8] >= 0.99
    # unreachable target: None + every arm recorded
    none, full = auto_nprobe(exact, search, [1, 2], 1.01)
    assert none is None and len(full) == 2


def test_calibrate_radius_hits_target_selectivity(spark, emb, model):
    """r10 calibrate_radius: the suggested radius admits ~the target
    fraction of the corpus per query (within histogram-bucket error),
    and composes with the indexed range path at full probe."""
    from flechasdb_spark.operators.knn import calibrate_radius, range_search
    from flechasdb_spark.plans.ivfsq import ivfsq_range_query

    qs = [
        [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(3, 9, 21)).collect()
    ]
    n = emb.count()
    for sel in (0.05, 0.2):
        r = calibrate_radius(emb, qs, selectivity=sel)
        got = sum(
            range_search(emb, q, radius=r, round_to=6).count() for q in qs
        ) / (len(qs) * n)
        assert abs(got - sel) < 0.05, (sel, r, got)
    # composes with the indexed radius path
    r = calibrate_radius(emb, qs, selectivity=0.1)
    hits = ivfsq_range_query(model, qs[0], radius=r, nprobe=P, round_to=6)
    assert hits.count() > 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="selectivity"):
        calibrate_radius(emb, qs, selectivity=0.0)


def test_pack_mode_rejects_wide_alphabets():
    """ADVICE r10 (medium): byte-mode packing renders each code as
    exactly 2 hex chars, so a code >= 256 would be silently truncated
    at pack time and the reloaded index would return wrong results
    with no error. pack_mode_for_levels (the single chokepoint every
    pack_codes=True path routes through — save/upsert/compact, both
    families) must therefore refuse a max code above 255."""
    import pytest

    from flechasdb_spark.operators.sq import pack_mode_for_levels

    assert pack_mode_for_levels(15) == "nibble"
    assert pack_mode_for_levels(16) == "byte"
    assert pack_mode_for_levels(255) == "byte"
    with pytest.raises(ValueError, match="pack_codes=True"):
        pack_mode_for_levels(256)
    with pytest.raises(ValueError, match="pack_codes=True"):
        pack_mode_for_levels(1024)


def test_calibrate_radius_single_pass_equals_two_pass(spark, emb):
    """VERDICT r10 #8: grid bounds now come from the md5-ranked
    deterministic sample so only ONE pass touches the Q x N pair
    expansion. Equality on the fixture: with bounds_sample >= |corpus|
    the sampled bounds are the exact pair min/max (the NumPy fold is
    dimension-major, matching the engine's sequential left fold), so
    the result must be IDENTICAL to the former two-pass form, spelled
    out inline here."""
    from flechasdb_spark.functions.linalg import squared_l2
    from flechasdb_spark.operators.knn import calibrate_radius
    from flechasdb_spark.operators.sketch import histogram_quantiles

    qs = [
        [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(3, 9, 21)).collect()
    ]
    n = emb.count()
    got = calibrate_radius(emb, qs, selectivity=0.2, bounds_sample=n + 10)

    # the former two-pass form, inline: exact min/max over all pairs
    qdf = F.broadcast(
        spark.createDataFrame(
            [(i, q) for i, q in enumerate(qs)],
            "__qid long, __qv array<double>",
        )
    )
    d = squared_l2(F.col("embedding").cast("array<double>"), F.col("__qv"))
    pairs = emb.select("embedding").join(qdf).select(d.alias("__d"))
    mm = pairs.agg(F.min("__d").alias("lo"), F.max("__d").alias("hi")).first()
    want = float(
        histogram_quantiles(
            pairs, "__d", [0.2], lo=float(mm["lo"]), hi=float(mm["hi"]),
            num_buckets=512,
        ).first()["q_est"]
    )
    assert got == want, (got, want)

    # a small bounds sample still lands within histogram-bucket error
    # of the target selectivity (clamped tails, documented contract)
    small = calibrate_radius(emb, qs, selectivity=0.2, bounds_sample=64)
    from flechasdb_spark.operators.knn import range_search

    got_sel = sum(
        range_search(emb, q, radius=small, round_to=6).count() for q in qs
    ) / (len(qs) * n)
    assert abs(got_sel - 0.2) < 0.05, (small, got_sel)


def test_calibrate_radii_one_pass_equals_per_selectivity(spark, emb):
    """r12: `calibrate_radii` shares ONE bounds sample and ONE Q x N
    histogram across every target selectivity (the histogram does not
    depend on the target — only the interpolation does), so each
    returned radius must be bit-identical to the per-selectivity
    `calibrate_radius` call. Also: order preserved, duplicates
    allowed, and the empty/invalid guards hold."""
    import pytest

    from flechasdb_spark.operators.knn import (
        calibrate_radii,
        calibrate_radius,
    )

    qs = [
        [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(3, 9, 21)).collect()
    ]
    sels = [0.5, 0.05, 0.2, 0.05]  # unsorted + duplicated on purpose
    multi = calibrate_radii(emb, qs, sels, bounds_sample=64)
    for s, r in zip(sels, multi):
        assert r == calibrate_radius(
            emb, qs, selectivity=s, bounds_sample=64
        ), (s, r)
    with pytest.raises(ValueError, match="non-empty"):
        calibrate_radii(emb, qs, [])
    with pytest.raises(ValueError, match="selectivity"):
        calibrate_radii(emb, qs, [0.2, 0.0])


@pytest.mark.parametrize("width", [61, 66])
def test_query_width_mismatch_raises(spark, emb, model, model_cell, width):
    """A query narrower or wider than the index (dim 64) raises
    ValueError at plan construction — never rows with a null distance
    or a bare IndexError from the probe fold — on all four entry
    points, under both bounds modes and both probe-selection modes."""
    from flechasdb_spark.plans.ivfsq import (
        ivfsq_query,
        ivfsq_query_batch,
        ivfsq_range_query,
        ivfsq_range_query_batch,
    )

    row = emb.where(F.col("vec_id") == 3).first()
    qv = ([float(x) for x in row["embedding"]] * 2)[:width]
    qs = [(3, qv), (4, qv)]
    for m in (model, model_cell):
        calls = [
            lambda: ivfsq_query(m, qv, k=5, nprobe=3),
            lambda: ivfsq_range_query(m, qv, radius=1.6, nprobe=3),
        ]
        for cc in (True, False):
            calls += [
                lambda cc=cc: ivfsq_query_batch(
                    m, qs, k=5, nprobe=3, collect_centroids=cc
                ),
                lambda cc=cc: ivfsq_range_query_batch(
                    m, qs, radius=1.6, nprobe=3, collect_centroids=cc
                ),
            ]
        for call in calls:
            with pytest.raises(ValueError, match="width"):
                call()


def test_batch_query_job_count(spark, emb, model, model_cell, tmp_path):
    """Q=3 batch serving on a saved index schedules one centroid
    collect, one broadcast of the probe LocalRelation, and the scan +
    top-k stages: 4 jobs under global bounds, 5 under per-cell bounds
    (one more broadcast, of the bounds table). Counted by job group
    over plan construction and the collect."""
    from flechasdb_spark.plans.ivfsq import (
        ivfsq_query_batch,
        load_ivfsq,
        save_ivfsq,
    )

    sc = spark.sparkContext
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin(3, 11, 42)).collect()
    ]
    for name, m, want in (("global", model, 4), ("per_cell", model_cell, 5)):
        save_ivfsq(m, str(tmp_path / name))
        loaded = load_ivfsq(spark, str(tmp_path / name))
        ivfsq_query_batch(loaded, qs, k=5, nprobe=3).collect()  # warm
        group = f"ivfsq-batch-jobs-{name}"
        sc.setJobGroup(group, "ivfsq batch job gate")
        try:
            rows = ivfsq_query_batch(loaded, qs, k=5, nprobe=3).collect()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup(f"{group}-done", "")
        assert len(rows) == 15
        assert len(jobs) == want, (name, jobs)
