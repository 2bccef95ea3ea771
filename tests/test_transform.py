"""PCA-pretransformed IVF+PQ composition gates (plans/transform.py):
recall against exact search in the SAME projected space (index
quality), save/load round-trip equality, and the whitened variant."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from flechasdb_spark.operators.build import IndexConfig
from flechasdb_spark.operators.pca import pca_project
from flechasdb_spark.plans.transform import (
    build_transformed_index,
    load_transformed_index,
    save_transformed_index,
    transform_queries,
    transformed_ann_query,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def tindex(emb):
    cfg = IndexConfig(num_partitions=8, num_divisions=8, num_codes=16, seed=7)
    return build_transformed_index(emb, pca_k=32, cfg=cfg)


@pytest.fixture(scope="module")
def queries(emb):
    return [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id") < 10).collect()
    ]


def test_recall_vs_exact_in_projected_space(spark, emb, tindex, queries):
    """ANN over the transformed index vs exact kNN over the SAME
    projection: index quality must survive the pretransform."""
    from flechasdb_spark.operators.knn import flat_knn

    proj = pca_project(emb, tindex.pca, out_col="pv").select(
        "vec_id", F.col("pv").alias("embedding")
    )
    got = transformed_ann_query(tindex, queries, k=10, nprobe=8)
    rer = transformed_ann_query(
        tindex, queries, k=10, nprobe=8, rerank=proj, rerank_factor=8
    )
    hits = rhits = 0
    for qid, qv in transform_queries(tindex, queries):
        exact = {
            r["vec_id"] for r in flat_knn(proj, qv, k=10).collect()
        }
        approx = {
            r["vector_id"]
            for r in got.where(F.col("query_id") == qid).collect()
        }
        reranked = {
            r["vector_id"]
            for r in rer.where(F.col("query_id") == qid).collect()
        }
        hits += len(exact & approx)
        rhits += len(exact & reranked)
    recall = hits / (10 * len(queries))
    rrecall = rhits / (10 * len(queries))
    # near-isotropic fixture + 8x16 PQ over 32 dims: raw-ADC recall
    # sits in the same band as the full-space gates (0.12 default /
    # 0.5 high-res in test_ivfpq.py); the exact re-rank must recover
    # almost everything at full probe
    assert recall >= 0.3, f"raw ADC recall@10 {recall} in projected space"
    assert rrecall >= 0.9, f"reranked recall@10 {rrecall}"


def test_projected_distances_match_flat(spark, emb, tindex, queries):
    """Full-probe ANN distance of the true nearest neighbor equals the
    exact projected-space distance (ADC is exact at the stored point
    only up to quantization — so compare the exact re-rank path)."""
    got = transformed_ann_query(
        tindex, queries[:2], k=1, nprobe=8,
        rerank=pca_project(emb, tindex.pca, out_col="pv").select(
            "vec_id", F.col("pv").alias("embedding")
        ),
        rerank_factor=8,
    ).collect()
    from flechasdb_spark.operators.knn import flat_knn

    proj = pca_project(emb, tindex.pca, out_col="pv").select(
        "vec_id", F.col("pv").alias("embedding")
    )
    for r in got:
        qv = dict(transform_queries(tindex, queries))[r["query_id"]]
        exact = flat_knn(proj, qv, k=1).first()
        assert r["vector_id"] == exact["vec_id"]
        assert r["squared_distance"] == pytest.approx(
            exact["squared_distance"], rel=1e-9
        )


def test_save_load_roundtrip(spark, tindex, queries, tmp_path):
    path = str(tmp_path / "tidx")
    save_transformed_index(tindex, path)
    loaded = load_transformed_index(spark, path)
    assert loaded.pca == tindex.pca
    assert loaded.whiten == tindex.whiten
    a = sorted(
        (r["query_id"], r["vector_id"], r["rank"])
        for r in transformed_ann_query(
            tindex, queries, k=5, nprobe=4
        ).collect()
    )
    b = sorted(
        (r["query_id"], r["vector_id"], r["rank"])
        for r in transformed_ann_query(
            loaded, queries, k=5, nprobe=4
        ).collect()
    )
    assert a == b


def test_whitened_variant_builds_and_queries(emb, queries):
    cfg = IndexConfig(num_partitions=4, num_divisions=4, num_codes=8, seed=7)
    ti = build_transformed_index(emb, pca_k=16, cfg=cfg, whiten=True)
    out = transformed_ann_query(ti, queries[:3], k=5, nprobe=4)
    assert out.count() == 15
    # whitened projections: query matrix has ~unit-scale coordinates
    qm = np.asarray([v for _, v in transform_queries(ti, queries)])
    assert 0.1 < np.abs(qm).mean() < 10.0


def test_divisibility_validated(emb):
    with pytest.raises(ValueError):
        build_transformed_index(
            emb, pca_k=30, cfg=IndexConfig(num_divisions=8)
        )


# --- OPQ-rotated IVF+PQ lifecycle (VERDICT r6 #5) -----------------------


def _correlated_vectors(n=2000, dim=16, seed=11):
    """Anisotropic + cross-subspace-correlated Gaussian: the data shape
    OPQ exists for (a decaying spectrum mixed through a random
    orthogonal basis, so energy straddles the contiguous PQ subspace
    boundaries plain PQ uses)."""
    rng = np.random.default_rng(seed)
    spectrum = np.exp(-np.arange(dim) / 3.0)
    q, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    x = rng.normal(size=(n, dim)) * spectrum
    return x @ q.T


@pytest.fixture(scope="module")
def corr_df(spark):
    x = _correlated_vectors()
    rows = [(i, [float(v) for v in x[i]]) for i in range(len(x))]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).persist()


def _recall_at_10(spark, result_df, x, qids):
    """recall@10 of (query_id, vector_id) pairs vs exact L2 in the
    ORIGINAL space (orthonormal rotations preserve it)."""
    got = {}
    for r in result_df.collect():
        got.setdefault(r.query_id, set()).add(r.vector_id)
    hits = 0
    for qid in qids:
        d = ((x - x[qid]) ** 2).sum(axis=1)
        exact = set(np.argsort(d, kind="stable")[:10].tolist())
        hits += len(exact & got.get(qid, set()))
    return hits / (10 * len(qids))


def test_opq_recall_ge_plain_pq_on_correlated_data(spark, corr_df):
    """Equal-budget gate: OPQ{4},IVF{4},PQ{4x16} must match or beat
    plain IVF{4},PQ{4x16} recall@10 on correlated data — the rotation
    only re-aligns subspaces, so at worst it ties (property-gated on a
    frozen seed; losses[0] is the plain-PQ loss so the training-side
    improvement is also asserted)."""
    from flechasdb_spark.operators.build import build_index
    from flechasdb_spark.plans.ivf import ann_query
    from flechasdb_spark.plans.transform import (
        build_opq_index,
        opq_ann_query,
    )

    x = _correlated_vectors()
    cfg = IndexConfig(num_partitions=4, num_divisions=4, num_codes=16, seed=7)
    qids = list(range(30))
    qs = [(i, [float(v) for v in x[i]]) for i in qids]

    plain = build_index(corr_df, cfg)
    plain_recall = _recall_at_10(
        spark, ann_query(plain, qs, k=10, nprobe=4), x, qids
    )

    oi = build_opq_index(corr_df, cfg, opq_iters=8, opq_sample_n=2000)
    opq_recall = _recall_at_10(
        spark, opq_ann_query(oi, qs, k=10, nprobe=4), x, qids
    )
    # training objective: the OPQ loop must improve on its own round-0
    # plain-PQ fit
    assert oi.losses[-1] < oi.losses[0]
    assert opq_recall >= plain_recall, (
        f"OPQ recall {opq_recall} < plain PQ {plain_recall} at equal budget"
    )


def test_opq_save_load_query_equality(spark, corr_df, tmp_path):
    """Persisted OPQ index must answer queries identically to the
    in-memory one (rotation survives the manifest round-trip
    bit-for-bit as JSON doubles)."""
    from flechasdb_spark.plans.transform import (
        build_opq_index,
        load_opq_index,
        opq_ann_query,
        save_opq_index,
    )

    cfg = IndexConfig(num_partitions=4, num_divisions=4, num_codes=8, seed=7)
    oi = build_opq_index(corr_df, cfg, opq_iters=3, opq_sample_n=500)
    x = _correlated_vectors()
    qs = [(i, [float(v) for v in x[i]]) for i in range(5)]
    before = sorted(
        (r.query_id, r.vector_id, round(r.squared_distance, 6), r.rank)
        for r in opq_ann_query(oi, qs, k=5, nprobe=4).collect()
    )
    path = str(tmp_path / "opqidx")
    save_opq_index(oi, path)
    loaded = load_opq_index(spark, path)
    assert loaded.rotation == oi.rotation
    after = sorted(
        (r.query_id, r.vector_id, round(r.squared_distance, 6), r.rank)
        for r in opq_ann_query(loaded, qs, k=5, nprobe=4).collect()
    )
    assert before == after


# ---------------------------------------------------------------------------
# PCAR{k},IVF{P},SQ8 (r9, VERDICT r8 #3): the SQ sibling of the PQ
# composition above — recall band in the projected space, save/load
# query equality, per-cell bounds pass-through, no divisibility
# constraint (SQ quantizes per dimension).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sq_tindex(emb):
    from flechasdb_spark.plans.transform import build_transformed_ivfsq

    return build_transformed_ivfsq(
        emb, pca_k=24, num_partitions=8, seed=7, bounds="per_cell"
    )


def test_ivfsq_recall_vs_exact_in_projected_space(spark, emb, sq_tindex, queries):
    """IVF+SQ8 over the PCA projection vs exact kNN over the SAME
    projection: SQ8 residual fidelity must survive the pretransform —
    the per-dimension codes make this band much tighter than PQ's raw
    ADC (compare test_recall_vs_exact_in_projected_space's 0.3)."""
    from flechasdb_spark.operators.knn import flat_knn
    from flechasdb_spark.plans.transform import (
        transform_queries,
        transformed_ivfsq_query,
    )

    proj = pca_project(emb, sq_tindex.pca, out_col="pv").select(
        "vec_id", F.col("pv").alias("embedding")
    )
    hits = 0
    for (qid, qv), (_, raw) in zip(
        transform_queries(sq_tindex, queries[:5]), queries[:5]
    ):
        exact = {r["vec_id"] for r in flat_knn(proj, qv, k=10).collect()}
        approx = {
            r["vec_id"]
            for r in transformed_ivfsq_query(
                sq_tindex, raw, k=10, nprobe=6
            ).collect()
        }
        hits += len(exact & approx)
    recall = hits / (10 * 5)
    assert recall >= 0.8, f"IVF+SQ8 recall@10 {recall} in projected space"


def test_ivfsq_no_divisibility_constraint(emb):
    """pca_k need not divide anything for SQ8 — an odd k' builds."""
    from flechasdb_spark.plans.transform import build_transformed_ivfsq

    ti = build_transformed_ivfsq(emb, pca_k=17, num_partitions=4, seed=3)
    row = ti.model.encoded.first()
    assert len(row["codes"]) == 17


def test_ivfsq_save_load_query_equality(spark, emb, sq_tindex, queries, tmp_path):
    """Persist -> load -> query returns exactly the in-memory result
    (transform.json + save_ivfsq as one unit), for both the solo and
    the batch serving paths."""
    from flechasdb_spark.plans.transform import (
        load_transformed_ivfsq,
        save_transformed_ivfsq,
        transformed_ivfsq_query,
        transformed_ivfsq_query_batch,
    )

    path = str(tmp_path / "sq_tidx")
    save_transformed_ivfsq(sq_tindex, path)
    loaded = load_transformed_ivfsq(spark, path)
    assert loaded.pca == sq_tindex.pca
    assert loaded.whiten == sq_tindex.whiten

    raw_q = queries[3][1]
    a = [
        (r["vec_id"], r["squared_distance"])
        for r in transformed_ivfsq_query(
            sq_tindex, raw_q, k=10, nprobe=4, round_to=6
        ).collect()
    ]
    b = [
        (r["vec_id"], r["squared_distance"])
        for r in transformed_ivfsq_query(
            loaded, raw_q, k=10, nprobe=4, round_to=6
        ).collect()
    ]
    assert a == b and len(a) == 10

    ba = transformed_ivfsq_query_batch(
        sq_tindex, queries[:4], k=5, nprobe=4, round_to=6
    ).collect()
    bb = transformed_ivfsq_query_batch(
        loaded, queries[:4], k=5, nprobe=4, round_to=6
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(
        [(r["query_id"], r["vec_id"], r["squared_distance"]) for r in ba],
    ) == sorted(
        [(r["query_id"], r["vec_id"], r["squared_distance"]) for r in bb],
    )


def test_transformed_ivfsq_forwards_bits_and_attrs(spark, emb, tmp_path):
    """VERDICT r9 #4: build_transformed_ivfsq forwards ``bits`` and
    ``attr_cols``, so ``PCAR{k},IVF{P},SQ4`` and attribute-filtered
    transformed serving compose through the factory helper. Gates:
    the SQ4 depth survives the transform save/load (manifest carries
    levels=15), attrs ride the encoded rows, and a filtered
    transformed query returns only matching rows."""
    from flechasdb_spark.plans.transform import (
        build_transformed_ivfsq,
        load_transformed_ivfsq,
        save_transformed_ivfsq,
        transformed_ivfsq_query_batch,
    )

    ti = build_transformed_ivfsq(
        emb, pca_k=4, num_partitions=4, bits=4, attr_cols=("label",)
    )
    assert ti.model.levels == 15
    assert "label" in ti.model.encoded.columns

    path = str(tmp_path / "pcar_sq4")
    save_transformed_ivfsq(ti, path)
    loaded = load_transformed_ivfsq(spark, path)
    assert loaded.model.levels == 15  # depth through the manifest
    assert "label" in loaded.model.encoded.columns

    r0 = emb.where(F.col("vec_id") == 5).first()
    want = int(r0["label"])
    hits = transformed_ivfsq_query_batch(
        loaded,
        [(5, [float(x) for x in r0["embedding"]])],
        k=5,
        nprobe=4,
        where=F.col("label") == want,
        round_to=6,
    ).collect()
    assert len(hits) == 5
    got_labels = {
        int(r["label"])
        for r in emb.join(
            spark.createDataFrame(
                [(r.vec_id,) for r in hits], "vec_id long"
            ),
            "vec_id",
            "left_semi",
        ).collect()
    }
    assert got_labels == {want}


def test_transformed_ivfsq_range_query(spark, emb, sq_tindex):
    """r10 radius parity for the PCAR composition: the projected-space
    radius query returns every member within r of the projected query
    (solo == batch == the underlying index queried with the projected
    vector), and rerank-to-exact composes when given PROJECTED
    originals."""
    import numpy as np

    from flechasdb_spark.plans.transform import (
        transform_queries,
        transformed_ivfsq_range_query,
        transformed_ivfsq_range_query_batch,
    )
    from flechasdb_spark.plans.ivfsq import ivfsq_range_query

    r0 = emb.where(F.col("vec_id") == 7).first()
    qv = [float(x) for x in r0["embedding"]]
    # pick the radius from the projected metric: the 8th-nearest
    # projected distance
    (_, pq), = transform_queries(sq_tindex, [(0, qv)])
    base = ivfsq_range_query(
        sq_tindex.model, pq, radius=1e9, nprobe=4, round_to=6, limit=8
    ).collect()
    r = base[-1].squared_distance
    solo = transformed_ivfsq_range_query(
        sq_tindex, qv, radius=r, nprobe=4, round_to=6
    ).collect()
    assert len(solo) == 8
    assert [(x.vec_id, x.squared_distance) for x in solo] == [
        (x.vec_id, x.squared_distance) for x in base
    ]
    batch = transformed_ivfsq_range_query_batch(
        sq_tindex, [(7, qv)], radius=r, nprobe=4, round_to=6
    ).collect()
    assert sorted((x.vec_id, x.squared_distance) for x in batch) == sorted(
        (x.vec_id, x.squared_distance) for x in solo
    )


def test_transformed_and_opq_range_queries(spark, emb, tindex, corr_df):
    """r10 radius parity for the PQ compositions: the PCA form's
    radius lives in the projected metric (equals the underlying index
    queried with the projected vector); the OPQ form's radius is the
    TRUE metric (orthonormal rotation preserves L2), checked by
    recovering the exact self-match at radius ~0."""
    from flechasdb_spark.plans.ivf import ann_range_query_batch
    from flechasdb_spark.plans.transform import (
        transform_queries,
        build_opq_index,
        opq_ann_range_query,
        transformed_ann_range_query,
    )
    from flechasdb_spark.operators.build import IndexConfig

    r0 = emb.where(F.col("vec_id") == 9).first()
    qv = [float(x) for x in r0["embedding"]]
    proj = transform_queries(tindex, [(9, qv)])
    base = ann_range_query_batch(
        tindex.index, proj, radius=3.0, nprobe=8, round_to=4
    ).collect()
    got = transformed_ann_range_query(
        tindex, [(9, qv)], radius=3.0, nprobe=8, round_to=4
    ).collect()
    key = lambda r: (r.query_id, r.vector_id, r.squared_distance)
    assert sorted(map(key, got)) == sorted(map(key, base))
    assert got  # the fixture radius selects something

    oi = build_opq_index(
        corr_df,
        IndexConfig(num_partitions=4, num_divisions=8, num_codes=16, seed=3),
        opq_iters=2,
        opq_sample_n=500,
    )
    hits = opq_ann_range_query(
        oi, [(9, [float(x) for x in corr_df.where(F.col("vec_id") == 9).first()["embedding"]])],
        radius=1.0, nprobe=4, round_to=4,
    ).collect()
    assert any(r.vector_id == 9 for r in hits)  # self within radius


def test_empty_batch_returns_contract_schema(tindex):
    """An empty batch through the PCA and OPQ forms, top-k and radius,
    returns no rows with the columns of `ann_query` /
    `ann_range_query_batch` on the underlying index, as those do."""
    from flechasdb_spark.plans.ivf import ann_query, ann_range_query_batch
    from flechasdb_spark.plans.transform import (
        OPQIndex,
        opq_ann_query,
        opq_ann_range_query,
        transformed_ann_range_query,
    )

    n = tindex.index.vector_size
    oi = OPQIndex(rotation=np.eye(n), losses=(), index=tindex.index)
    topk = ann_query(tindex.index, [], k=3, nprobe=2).columns
    radius = ann_range_query_batch(tindex.index, [], radius=1.0, nprobe=2).columns
    for form, cols in (
        (lambda: transformed_ann_query(tindex, [], k=3, nprobe=2), topk),
        (lambda: opq_ann_query(oi, [], k=3, nprobe=2), topk),
        (
            lambda: transformed_ann_range_query(tindex, [], radius=1.0, nprobe=2),
            radius,
        ),
        (lambda: opq_ann_range_query(oi, [], radius=1.0, nprobe=2), radius),
    ):
        out = form()
        assert out.columns == cols
        assert out.count() == 0


def test_loaders_name_a_missing_transform_file(spark, tmp_path):
    """Each transformed-index loader raises ValueError naming
    transform.json on a store that has none, before reading the index."""
    from flechasdb_spark.plans.transform import (
        load_opq_index,
        load_transformed_index,
        load_transformed_ivfsq,
    )

    bare = tmp_path / "bare"
    bare.mkdir()
    for load in (load_transformed_index, load_transformed_ivfsq, load_opq_index):
        with pytest.raises(ValueError, match="transform.json"):
            load(spark, str(bare))
