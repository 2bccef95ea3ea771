"""IVF+PQ build / persist / query tests (SURVEY.md §5.2: recall vs the
exact oracle + manifest invariants; randomness pinned by seeds)."""

from __future__ import annotations

import contextlib
import itertools

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flechasdb_spark.operators.build import IndexConfig, build_index
from flechasdb_spark.operators.knn import knn_join
from flechasdb_spark.plans.ivf import ann_query, select_probes
from flechasdb_spark.sources.manifest import (
    load_index,
    read_manifest_json,
    save_index,
    validate_manifest,
    write_manifest_json,
)

CFG = IndexConfig(num_partitions=8, num_divisions=8, num_codes=16, seed=7)


@contextlib.contextmanager
def _plan(name: str):
    """Force `plans.ivf._scored`'s plan through its private bound:
    "sql" (no query reaches `_KERNEL_MIN_DOUBLES`) or "kernel" (every
    query does). Yields the MonkeyPatch for further settings."""
    from flechasdb_spark.plans import ivf

    with pytest.MonkeyPatch.context() as mp:
        bound = {"sql": float("inf"), "kernel": 0}[name]
        mp.setattr(ivf, "_KERNEL_MIN_DOUBLES", bound)
        yield mp


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def model(emb):
    return build_index(emb, CFG)


def test_build_shapes(model, emb):
    assert model.vector_size == 64
    assert model.centroids.shape == (8, 64)
    assert model.codebooks.shape == (8, 16, 8)
    assert model.num_vectors == emb.count()
    assert model.attr_cols == ["label"]
    enc = model.encoded
    row = enc.first()
    assert len(row.codes) == 8
    assert all(0 <= c < 16 for c in row.codes)
    # every vector encoded exactly once
    assert enc.count() == model.num_vectors
    assert enc.select("vec_id").distinct().count() == model.num_vectors
    # partition ids in range
    pids = [r.partition_id for r in enc.select("partition_id").distinct().collect()]
    assert all(0 <= p < 8 for p in pids)


def test_deterministic_rebuild(emb):
    m1 = build_index(emb, CFG)
    m2 = build_index(emb, CFG)
    assert np.allclose(m1.centroids, m2.centroids)
    assert np.allclose(m1.codebooks, m2.codebooks)


def test_save_load_roundtrip(model, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index"))
    save_index(model, path)
    loaded = load_index(spark, path)
    assert loaded.vector_size == model.vector_size
    assert loaded.num_vectors == model.num_vectors
    # the small models are stored as float32: a round trip returns the
    # model's float32 values bit for bit
    f32 = lambda a: np.asarray(a, dtype=np.float32).astype(np.float64)
    assert np.array_equal(loaded.centroids, f32(model.centroids))
    assert np.array_equal(loaded.codebooks, f32(model.codebooks))
    a = {r.vec_id: (r.partition_id, list(r.codes)) for r in model.encoded.collect()}
    b = {r.vec_id: (r.partition_id, list(r.codes)) for r in loaded.encoded.collect()}
    assert a == b


def test_validate_manifest_rejects_bad():
    with pytest.raises(ValueError, match="divisible"):
        validate_manifest(
            dict(vector_size=10, num_vectors=1, num_partitions=2,
                 num_divisions=3, num_codes=4)
        )
    with pytest.raises(ValueError, match="missing"):
        validate_manifest({"vector_size": 8})
    with pytest.raises(ValueError, match="missing field: codebooks_sha256"):
        validate_manifest(
            dict(vector_size=8, num_vectors=1, num_partitions=2,
                 num_divisions=2, num_codes=4, format_version=2,
                 index_schema="{}")
        )


def test_small_model_tables_are_local_relations(model, spark):
    """The centroid and codebook tables `save_index` writes are Arrow
    LocalRelations with their at-rest schemas: writing them starts no
    Python worker to unpickle rows."""
    for df, ddl in (
        (model.centroids_df(spark), "partition_id:int,centroid:array<float>"),
        (
            model.codebooks_df(spark),
            "division:int,code:int,center:array<float>",
        ),
    ):
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", plan
        assert df.schema.simpleString() == f"struct<{ddl}>"
        assert all(f.nullable for f in df.schema.fields)


def _replace_rows(spark, path: str, table: str, edit) -> None:
    """Rewrite a store's ``table`` as valid Parquet holding its rows
    sorted by key after ``edit(rows)``."""
    d = spark.read.parquet(f"{path}/{table}")
    key = d.columns[:-1]  # (partition_id) or (division, code)
    rows = sorted(
        (r.asDict() for r in d.collect()), key=lambda r: [r[k] for k in key]
    )
    edit(rows)
    spark.createDataFrame(rows, d.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{table}")


def _perturb_center(rows) -> None:
    c = rows[5]["center"]
    c[0] = float(np.nextafter(np.float32(c[0]), np.float32(np.inf)))


def _swap_centroids(rows) -> None:
    rows[0]["centroid"], rows[1]["centroid"] = (
        rows[1]["centroid"],
        rows[0]["centroid"],
    )


def _as_version_1(spark, path: str) -> None:
    """Strip the manifest's version-2 fields, as a version-1 writer
    left it."""
    m = read_manifest_json(spark, f"{path}/manifest.json")
    for k in ("index_schema", "centroids_sha256", "codebooks_sha256"):
        del m[k]
    m["format_version"] = 1
    write_manifest_json(spark, f"{path}/manifest.json", m)


def test_load_verifies_small_models(model, spark, tmp_path_factory):
    """`load_index` recomputes the manifest's SHA-256 of each small
    model from the rows it collects and raises naming the table: a
    codebook center one float32 ulp off and two swapped centroid rows
    are both caught. The lazy-centroid mode checks the codebooks only,
    and a model saved without collected centroids records no centroid
    digest."""
    cb = str(tmp_path_factory.mktemp("bad_codebooks"))
    save_index(model, cb)
    _replace_rows(spark, cb, "codebooks", _perturb_center)
    for lazy in (False, True):
        with pytest.raises(ValueError, match="codebooks"):
            load_index(spark, cb, collect_centroids=not lazy)

    cent = str(tmp_path_factory.mktemp("bad_centroids"))
    save_index(model, cent)
    _replace_rows(spark, cent, "centroids", _swap_centroids)
    with pytest.raises(ValueError, match="centroids"):
        load_index(spark, cent)
    assert load_index(spark, cent, collect_centroids=False).centroids is None

    good = str(tmp_path_factory.mktemp("good"))
    save_index(model, good)
    resaved = str(tmp_path_factory.mktemp("lazy_resaved"))
    save_index(load_index(spark, good, collect_centroids=False), resaved)
    m = read_manifest_json(spark, f"{resaved}/manifest.json")
    assert "centroids_sha256" not in m and "codebooks_sha256" in m
    assert np.array_equal(
        load_index(spark, resaved).centroids, load_index(spark, good).centroids
    )


def test_version_1_manifest_loads_unverified(model, spark, tmp_path_factory):
    """A manifest without the version-2 fields loads as before: every
    schema inferred, nothing verified (swapped centroid rows load), and
    otherwise the same model and index frame as the version-2 store."""
    v2 = str(tmp_path_factory.mktemp("v2"))
    v1 = str(tmp_path_factory.mktemp("v1"))
    for path in (v2, v1):
        save_index(model, path, pack_codes=True)
    _as_version_1(spark, v1)
    a, b = load_index(spark, v2), load_index(spark, v1)
    assert np.array_equal(a.centroids, b.centroids)
    assert np.array_equal(a.codebooks, b.codebooks)
    assert a.num_vectors == b.num_vectors
    assert a.encoded.schema == b.encoded.schema
    key = lambda r: r.vec_id
    assert sorted(a.encoded.collect(), key=key) == sorted(
        b.encoded.collect(), key=key
    )
    _replace_rows(spark, v1, "centroids", _swap_centroids)
    swapped = load_index(spark, v1).centroids
    assert np.array_equal(swapped[[1, 0]], a.centroids[:2])


def _jobs_of(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` runs, counted under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "persistence job gate")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(f"{group}-done", "")


def test_recorded_schemas_save_jobs(model, emb, spark, tmp_path_factory):
    """A version-2 store opens with no schema-inference job: `load_index`
    runs 2 jobs (the centroid and codebook collects) where a version-1
    manifest of the same store runs 5, and `upsert_vectors` and
    `delete_vectors`, which read the index through the recorded schema,
    each run one job fewer than on the version-1 store."""
    from flechasdb_spark.operators.maintenance import (
        delete_vectors,
        upsert_vectors,
    )

    up = emb.where("vec_id < 20").withColumn("vec_id", F.col("vec_id") + 10**6)
    counts = {}
    for version in (2, 1):
        path = str(tmp_path_factory.mktemp(f"jobs_v{version}"))
        save_index(model, path)
        if version == 1:
            _as_version_1(spark, path)
        tag = f"persist-v{version}"
        counts[version] = [
            _jobs_of(spark, f"{tag}-load", lambda: load_index(spark, path)),
            _jobs_of(
                spark,
                f"{tag}-upsert",
                lambda: upsert_vectors(spark, model, path, up),
            ),
            _jobs_of(
                spark,
                f"{tag}-delete",
                lambda: delete_vectors(spark, model, path, list(range(30))),
            ),
        ]
    assert counts[2][0] == 2 and counts[1][0] == 5, counts
    assert [v1 - v2 for v2, v1 in zip(counts[2], counts[1])] == [3, 1, 1], counts


def test_partition_pruning_reaches_scan(model, spark, tmp_path_factory):
    """The IVF probe filter must become a Parquet PartitionFilter on the
    persisted index — the reference's lazy per-partition load
    (src/db/stored.rs:262-293) expressed as storage pruning; at scale
    this is the difference between reading nprobe/P of the index and
    reading all of it."""
    from pyspark.sql import functions as F

    path = str(tmp_path_factory.mktemp("prune_index"))
    save_index(model, path)
    loaded = load_index(spark, path)
    pruned = loaded.encoded.where(F.col("partition_id").isin([0, 2]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [partition_id" in plan.replace("#", " #").replace(
        "partition_id #", "partition_id#"
    ) or "PartitionFilters" in plan and "IN (0,2)" in plan


def test_query_on_loaded_index_matches_in_memory(model, emb, spark, tmp_path_factory):
    """S2-S4 + Q1-Q5 over the persisted index: querying a loaded index
    returns exactly what the in-memory model returns (frozen-index
    determinism, SURVEY.md §2.4)."""
    path = str(tmp_path_factory.mktemp("saved_index"))
    save_index(model, path)
    loaded = load_index(spark, path)
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 5).collect()
    ]
    a = {
        (r.query_id, r.vector_id, round(r.squared_distance, 6))
        for r in ann_query(model, qs, k=5, nprobe=4).collect()
    }
    b = {
        (r.query_id, r.vector_id, round(r.squared_distance, 6))
        for r in ann_query(loaded, qs, k=5, nprobe=4).collect()
    }
    assert a == b


def test_distributed_codebook_training(model, emb):
    """applyInPandas D-way training: right shapes, deterministic across
    runs, and codebooks usable for encoding (codes in range)."""
    from flechasdb_spark.operators.build import (
        pq_encoder_udf,
        train_codebooks_distributed,
    )

    cb1 = train_codebooks_distributed(emb, model.centroids, CFG, 64)
    cb2 = train_codebooks_distributed(emb, model.centroids, CFG, 64)
    assert cb1.shape == (8, 16, 8)
    assert np.array_equal(cb1, cb2)
    enc = pq_encoder_udf(emb.sparkSession, model.centroids, cb1)
    row = emb.select(enc(F.col("embedding")).alias("e")).first()
    assert len(row.e.codes) == 8
    assert all(0 <= c < 16 for c in row.e.codes)


def test_nprobe_exceeds_partitions_errors(model):
    with pytest.raises(ValueError, match="nprobe"):
        select_probes(model, np.zeros((1, 64)), nprobe=9)


def _recall(model, emb, k, nprobe, nq=20):
    qdf = emb.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvector")
    )
    exact = {(r.query_id, r.vec_id) for r in knn_join(qdf, emb, k=k).collect()}
    queries = [(r.query_id, list(r.qvector)) for r in qdf.collect()]
    approx = ann_query(model, queries, k=k, nprobe=nprobe)
    got = {(r.query_id, r.vector_id) for r in approx.collect()}
    return len(exact & got) / len(exact), queries, got


def test_recall_vs_exact(model, emb):
    """Recall@10 vs the flat oracle. These synthetic embeddings are
    near-random — PQ's worst case — so the default-resolution threshold
    is calibrated (measured ~0.2 at D=8/C=16, ~0.67 at D=32/C=16); the
    reference on the same data would degrade identically (same ADC
    math). nprobe=P isolates PQ error from IVF probing error."""
    recall, queries, got = _recall(model, emb, k=10, nprobe=8)
    assert recall >= 0.12, f"recall@10 too low: {recall}"
    # scoring over a frozen index is deterministic (SURVEY.md §2.4)
    again = {
        (r.query_id, r.vector_id)
        for r in ann_query(model, queries, k=10, nprobe=8).collect()
    }
    assert got == again


def test_recall_high_resolution(emb):
    hi = IndexConfig(num_partitions=8, num_divisions=32, num_codes=16, seed=7)
    model = build_index(emb, hi)
    recall, _, _ = _recall(model, emb, k=10, nprobe=8)
    assert recall >= 0.5, f"high-res recall@10 too low: {recall}"


def test_more_probes_never_hurt_much(model, emb):
    """nprobe=1 is a strict subset of candidates vs nprobe=P."""
    r1, _, _ = _recall(model, emb, k=10, nprobe=1, nq=10)
    rp, _, _ = _recall(model, emb, k=10, nprobe=8, nq=10)
    assert rp >= r1


def test_partition_pruning_reads_fewer_rows(model, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index_prune"))
    save_index(model, path)
    loaded = load_index(spark, path)
    q = np.zeros((1, 64))
    res = ann_query(loaded, q, k=5, nprobe=2, query_ids=[0])
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the scan must carry a partition filter on partition_id
    assert "partition_id" in plan
    assert res.count() == 5


def test_assemble_index_matches_build(model, emb):
    """assemble_index (pre-trained models -> encode only) produces the
    exact encoding build_index produces with the same models — the
    train-once / encode-everywhere contract."""
    from flechasdb_spark.operators.build import assemble_index

    m2 = assemble_index(emb, model.centroids, model.codebooks, CFG)
    assert m2.num_vectors == model.num_vectors
    a = {r.vec_id: (r.partition_id, list(r.codes)) for r in model.encoded.collect()}
    b = {r.vec_id: (r.partition_id, list(r.codes)) for r in m2.encoded.collect()}
    assert a == b


def test_assemble_index_rejects_bad_shapes(emb):
    from flechasdb_spark.operators.build import assemble_index

    with pytest.raises(ValueError, match="centroids shape"):
        assemble_index(emb, np.zeros((3, 64)), np.zeros((8, 16, 8)), CFG)
    with pytest.raises(ValueError, match="codebooks shape"):
        assemble_index(emb, np.zeros((8, 64)), np.zeros((4, 16, 8)), CFG)


def test_rerank_recall_gate(model, emb):
    """VERDICT r1: exact re-ranking of the top k*factor ADC candidates
    against the original vectors lifts recall@10 from PQ-approximation
    levels (~0.2 here) to >= 0.8 at D=8/C=16."""
    qdf = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvector")
    )
    exact = {(r.query_id, r.vec_id) for r in knn_join(qdf, emb, k=10).collect()}
    queries = [(r.query_id, list(r.qvector)) for r in qdf.collect()]
    approx = ann_query(
        model, queries, k=10, nprobe=8, rerank=emb, rerank_factor=8
    )
    got = {(r.query_id, r.vector_id) for r in approx.collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, f"re-ranked recall@10 too low: {recall}"


def test_rerank_distances_are_exact(model, emb):
    """Re-ranked squared_distance must equal the true squared L2 (not
    the ADC approximation) for every returned row."""
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 3).collect()
    ]
    out = ann_query(model, qs, k=5, nprobe=8, rerank=emb, rerank_factor=8)
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()}
    qmap = {q: np.asarray(v, dtype=np.float64) for q, v in qs}
    for r in out.collect():
        true_d = float(((qmap[r.query_id] - vecs[r.vector_id]) ** 2).sum())
        assert abs(r.squared_distance - true_d) < 1e-6


@pytest.fixture(scope="module")
def kept(emb):
    """The fixture index built with keep_vectors=True (stored vectors)."""
    import dataclasses

    return build_index(emb, dataclasses.replace(CFG, keep_vectors=True))


def test_fused_rerank_matches_join_rerank(emb, kept):
    """rerank='stored' (exact distances computed inside the pruned ADC
    scan, keep_vectors index) returns bit-identical rows to the
    join-based rerank, unrounded, for queries float32 cannot represent
    (both score the float64 query), and errors without stored vectors or
    with an unknown rerank mode."""
    assert "embedding" in kept.encoded.columns
    qs = [
        (int(r.vec_id), [float(x) / 3.0 for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 5).collect()
    ]
    assert any(np.float32(x) != x for _, v in qs for x in v)
    joined = sorted(
        ann_query(kept, qs, k=5, nprobe=8, rerank=emb, rerank_factor=4).collect()
    )
    fused = sorted(
        ann_query(
            kept, qs, k=5, nprobe=8, rerank="stored", rerank_factor=4
        ).collect()
    )
    assert len(fused) == 25
    assert fused == joined

    no_vec = build_index(emb, CFG)
    with pytest.raises(ValueError, match="keep_vectors"):
        ann_query(no_vec, qs, k=5, nprobe=8, rerank="stored")
    with pytest.raises(ValueError, match="rerank mode"):
        ann_query(kept, qs, k=5, nprobe=8, rerank="bogus")


def test_fused_rerank_survives_save_load(emb, kept, spark, tmp_path_factory):
    """keep_vectors indexes persist the raw vectors in the partition
    files; after save_index -> load_index the fused rerank path still
    works and matches the in-memory result."""
    path = str(tmp_path_factory.mktemp("kept_idx"))
    save_index(kept, path)
    loaded = load_index(spark, path)
    assert "embedding" in loaded.encoded.columns
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 3).collect()
    ]
    mem = sorted(
        (r.query_id, r.vector_id, r.squared_distance)
        for r in ann_query(
            kept, qs, k=5, nprobe=8, round_to=4, rerank="stored"
        ).collect()
    )
    disk = sorted(
        (r.query_id, r.vector_id, r.squared_distance)
        for r in ann_query(
            loaded, qs, k=5, nprobe=8, round_to=4, rerank="stored"
        ).collect()
    )
    assert mem == disk


def test_query_and_cluster_event_callbacks(model, emb):
    """Reference event-handler parity (src/db/stored.rs:513-532,
    src/kmeans.rs:71-88): query phases and k-means iterations fire
    instrumentation callbacks."""
    from flechasdb_spark.operators.kmeans_np import kmeans_fit

    events = []
    qs = [(0, [0.0] * 64)]
    ann_query(model, qs, k=3, nprobe=2, on_event=lambda s, dt: events.append(s))
    assert events == ["select_probes", "adc_tables", "plan_built"]

    kevents = []
    kmeans_fit(
        np.random.RandomState(0).randn(64, 4), 4, seed=1,
        on_event=lambda e, p: kevents.append((e, p)),
    )
    assert kevents[0] == ("init", 4)
    assert all(e == "iteration" for e, _ in kevents[1:])
    assert all(p["shift"] >= 0 for _, p in kevents[1:])


def test_scorers_agree_on_rounded_contract(model, emb):
    """The sql plan and the NumPy kernel return bit-identical rows,
    unrounded as well as rounded: both sum the ADC gather as the same
    left fold."""
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 5).collect()
    ]
    for round_to in (None, 4):
        results = {}
        for plan in ("sql", "kernel"):
            with _plan(plan):
                results[plan] = sorted(
                    ann_query(
                        model, qs, k=5, nprobe=4, round_to=round_to
                    ).collect()
                )
        assert len(results["sql"]) == 25
        assert results["sql"] == results["kernel"], round_to


def test_lazy_centroids_distributed_probes(model, emb, spark, tmp_path_factory):
    """collect_centroids=False serving mode (huge-P indexes): Phase 1
    runs as a Spark job over the centroid table (select_probes_df) and
    only the O(Q * nprobe) probed centroids reach the driver. Results
    must equal the driver-side Phase 1 under the rounded-score
    contract; nprobe > P must still error; and the distributed probe
    plan must keep the per-query top-k pre-shuffle (WindowGroupLimit),
    or at huge P every scan task would forward all its centroids."""
    from flechasdb_spark.plans.ivf import select_probes_df

    path = str(tmp_path_factory.mktemp("lazy_index"))
    save_index(model, path)
    eager = load_index(spark, path)
    lazy = load_index(spark, path, collect_centroids=False)
    assert lazy.centroids is None and lazy.centroids_source is not None
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 8).collect()
    ]

    def key(rows):
        return sorted(
            (r.query_id, r.rank, r.vector_id, r.squared_distance)
            for r in rows
        )

    a = key(ann_query(eager, qs, k=5, nprobe=4, round_to=4).collect())
    b = key(ann_query(lazy, qs, k=5, nprobe=4, round_to=4).collect())
    assert a == b

    with pytest.raises(ValueError, match="nprobe"):
        ann_query(lazy, qs, k=5, nprobe=99)

    qarr = np.array([v for _, v in qs], dtype=np.float64)
    pr = select_probes_df(
        lazy.centroids_df(spark), qarr, 4, query_ids=[q for q, _ in qs]
    )
    plan = pr._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan

    # centroids_np() still materializes for maintenance paths
    assert np.allclose(lazy.centroids_np(), eager.centroids, atol=1e-6)


def _distortion(model, x):
    """Mean PQ quantization error of x under the model's frozen params."""
    cent, cb = model.centroids, model.codebooks
    d, c, w = cb.shape
    pid = np.argmin(
        (cent**2).sum(axis=1)[None, :] - 2.0 * (x @ cent.T), axis=1
    )
    res = x - cent[pid]
    if model.dim_perm is not None:
        res = res[:, np.asarray(model.dim_perm, dtype=int)]
    tot = 0.0
    for di in range(d):
        sub = res[:, di * w : (di + 1) * w]
        dist = ((sub[:, None, :] - cb[di][None, :, :]) ** 2).sum(axis=2)
        tot += dist.min(axis=1).sum()
    return tot / x.shape[0]


def test_balance_dims_lifecycle(spark, tmp_path_factory):
    """IndexConfig(balance_dims=True) trains an OPQ-style
    variance-balanced dimension permutation: deterministic across
    rebuilds, lower quantization distortion than the natural split on
    a variance-skewed corpus (where one contiguous slice would hog the
    energy), preserved through save/load, and query results from the
    loaded index match the in-memory model."""
    import dataclasses

    rng = np.random.RandomState(5)
    n, dims = 1200, 64
    scale = np.ones(dims)
    scale[:8] = 10.0  # natural split puts ALL the energy in division 0
    x = rng.randn(n, dims) * scale
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    x32 = x.astype(np.float32).astype(np.float64)
    cfg = IndexConfig(num_partitions=4, num_divisions=8, num_codes=16, seed=3)
    nat = build_index(df, cfg)
    bal = build_index(df, dataclasses.replace(cfg, balance_dims=True))
    assert nat.dim_perm is None
    assert bal.dim_perm is not None
    assert sorted(bal.dim_perm) == list(range(dims))
    # high-variance dims spread across divisions, not bunched in one
    w = dims // 8
    first_div = set(bal.dim_perm[:w])
    assert len(first_div & set(range(8))) <= 2
    assert _distortion(bal, x32) < _distortion(nat, x32)

    bal2 = build_index(df, dataclasses.replace(cfg, balance_dims=True))
    assert bal2.dim_perm == bal.dim_perm

    path = str(tmp_path_factory.mktemp("bal_index"))
    save_index(bal, path)
    loaded = load_index(spark, path)
    assert loaded.dim_perm == bal.dim_perm
    qs = [(int(i), [float(v) for v in x[i]]) for i in range(5)]

    def key(rows):
        return sorted(
            (r.query_id, r.rank, r.vector_id, r.squared_distance)
            for r in rows
        )

    assert key(ann_query(loaded, qs, k=5, nprobe=3, round_to=4).collect()) == key(
        ann_query(bal, qs, k=5, nprobe=3, round_to=4).collect()
    )


def test_relational_permuted_encode_matches_fused(spark):
    """The relational pq_encode(dim_perm=...) and the fused encoder UDF
    agree code-for-code under the same frozen codebooks + permutation
    (centroid fixed at zero so residual == vector)."""
    from flechasdb_spark.operators.build import assemble_index
    from flechasdb_spark.operators.pq import fixed_codebooks, pq_encode

    rng = np.random.RandomState(11)
    dims, d, c = 16, 4, 8
    w = dims // d
    x = rng.randn(200, dims).astype(np.float32).astype(np.float64)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    perm = [dd + j * d for dd in range(d) for j in range(w)]  # interleave
    cb_df = fixed_codebooks(spark, d, c, w)
    cb = np.array(
        [
            [
                [np.float32((ci - 3.5) * 0.1 + di * 0.01 * j) for j in range(w)]
                for ci in range(c)
            ]
            for di in range(d)
        ],
        dtype=np.float64,
    )
    cfg = IndexConfig(num_partitions=1, num_divisions=d, num_codes=c, seed=0)
    fused = assemble_index(
        df, np.zeros((1, dims)), cb, cfg, dim_perm=perm
    )
    got = {
        (r.vec_id, r.division): r.code
        for r in fused.encoded.select(
            "vec_id", F.posexplode("codes").alias("division", "code")
        ).collect()
    }
    want = {
        (r.vec_id, r.division): r.code
        for r in pq_encode(df, cb_df, width=w, dim_perm=perm).collect()
    }
    assert got == want


# --- radius search on the PQ family (r10, VERDICT r9 #2) ----------------


def test_range_query_semantics_vs_topk(model, emb):
    """ann_range_query returns exactly the candidates whose ADC
    distance (rounded) is <= radius within the probed cells: at full
    probe it equals the unlimited top-k path filtered by the radius,
    and every returned distance respects the bound."""
    from flechasdb_spark.plans.ivf import ann_range_query

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    with _plan("sql"):
        full = ann_query(
            model, [(3, qv)], k=emb.count(), nprobe=CFG.num_partitions,
            round_to=4,
        ).collect()
    radius = sorted(r.squared_distance for r in full)[25]  # ~26 matches
    got = ann_range_query(
        model, qv, radius=radius, nprobe=CFG.num_partitions, round_to=4
    ).collect()
    want = sorted(
        (r.vector_id, r.squared_distance)
        for r in full
        if r.squared_distance <= radius
    )
    assert sorted((r.vector_id, r.squared_distance) for r in got) == want
    assert all(r.squared_distance <= radius for r in got)
    # ordered ascending with id tie-break on the rounded value
    keys = [(r.squared_distance, r.vector_id) for r in got]
    assert keys == sorted(keys)
    # ordered limit keeps the nearest
    lim = ann_range_query(
        model, qv, radius=radius, nprobe=CFG.num_partitions, round_to=4,
        limit=5,
    ).collect()
    assert [(r.squared_distance, r.vector_id) for r in lim] == keys[:5]


def test_range_query_recall_vs_exact(model, emb):
    """ADC distances are PQ-approximate, so the gate is recall against
    the EXACT radius contract (knn.range_search): at full probe with a
    slack radius, ann_range_query finds >= 80% of the true
    radius-neighbors (the FAISS IVFPQ range_search trade)."""
    from flechasdb_spark.operators.knn import range_search
    from flechasdb_spark.plans.ivf import ann_range_query

    from flechasdb_spark.operators.knn import flat_knn

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    # radius = the 10th-nearest exact distance: guarantees a non-trivial
    # result at every SF instead of hardcoding a data-dependent constant
    r = sorted(
        r.squared_distance
        for r in flat_knn(emb, qv, k=10, round_to=4).collect()
    )[-1]
    exact = range_search(emb, qv, radius=r, round_to=4).collect()
    assert len(exact) >= 5  # the fixture radius actually selects
    approx = ann_range_query(
        model, qv, radius=r * 1.3, nprobe=CFG.num_partitions, round_to=4
    ).collect()
    hit = {r.vector_id for r in approx} & {r.vec_id for r in exact}
    assert len(hit) / len(exact) >= 0.8


def test_range_query_batch_scorers_where_and_empty(model, emb):
    """Kernel/sql plan parity under the rounded contract, the where
    pre-filter, limit_per_query ranking, and the empty-batch schema
    (rank present iff limit_per_query is set)."""
    from flechasdb_spark.plans.ivf import ann_range_query_batch

    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id").isin(3, 9)).collect()
    ]
    kw = dict(radius=1.7, nprobe=CFG.num_partitions, round_to=4)
    with _plan("sql"):
        a = ann_range_query_batch(model, qs, **kw).collect()
    with _plan("kernel"):
        b = ann_range_query_batch(model, qs, **kw).collect()
    key = lambda r: (r.query_id, r.squared_distance, r.vector_id)
    assert sorted(map(key, a)) == sorted(map(key, b))
    assert len(a) > 0

    flt = ann_range_query_batch(
        model, qs, where=F.col("label") == 1, **kw
    ).collect()
    lbl = {
        int(r["label"])
        for r in emb.join(
            emb.sparkSession.createDataFrame(
                [(r.vector_id,) for r in flt], "vec_id long"
            ),
            "vec_id",
            "left_semi",
        ).collect()
    }
    assert flt and lbl == {1}

    capped = ann_range_query_batch(model, qs, limit_per_query=3, **kw)
    rows = capped.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append((r.rank, r.squared_distance, r.vector_id))
    want = {}
    for r in a:
        want.setdefault(r.query_id, []).append((r.squared_distance, r.vector_id))
    for qid, pairs in per_q.items():
        assert [p[1:] for p in sorted(pairs)] == sorted(want[qid])[:3]

    empty = ann_range_query_batch(model, [], **kw)
    assert empty.columns == [
        "query_id", "vector_id", "partition_id", "squared_distance"
    ]
    e2 = ann_range_query_batch(model, [], limit_per_query=3, **kw)
    assert e2.columns == capped.columns and "rank" in e2.columns
    assert e2.unionByName(capped).count() == len(rows)


def test_range_query_prunes_partitions_at_rest(model, emb, spark, tmp_path_factory):
    """The radius scan's probe cut is a LITERAL isin — on a saved
    index it lands in the Parquet PartitionFilters (both plans), so
    the radius path reads nprobe/P of the store like the top-k path."""
    from flechasdb_spark.plans.ivf import ann_range_query_batch

    path = str(tmp_path_factory.mktemp("range_idx"))
    save_index(model, path)
    loaded = load_index(spark, path)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    for scorer in ("sql", "kernel"):
        with _plan(scorer):
            plan = (
                ann_range_query_batch(
                    loaded, [(3, qv)], radius=1.5, nprobe=2, round_to=4,
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
        ), (scorer, scan_lines)


def test_range_query_distributed_probes_parity(model, emb, spark, tmp_path_factory):
    """Huge-P lazy mode: ann_range_query_batch on an index loaded with
    collect_centroids=False (probe selection via select_probes_df)
    returns exactly the driver-side result."""
    from flechasdb_spark.plans.ivf import ann_range_query_batch

    path = str(tmp_path_factory.mktemp("range_lazy"))
    save_index(model, path)
    lazy = load_index(spark, path, collect_centroids=False)
    assert lazy.centroids is None
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id").isin(3, 9)).collect()
    ]
    kw = dict(radius=1.7, nprobe=3, round_to=4)
    a = ann_range_query_batch(model, qs, **kw).collect()
    b = ann_range_query_batch(lazy, qs, **kw).collect()
    key = lambda r: (r.query_id, r.squared_distance, r.vector_id)
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_range_query_rerank_exact_semantics(model, emb):
    """r10 range rerank on the PQ family: ADC pre-filter at
    radius*slack + exact verify at radius == knn.range_search exactly
    at full probe (ADC distances alone are PQ-approximate, so the
    unreranked result differs); limit_per_query applies to the
    EXACT-order result."""
    from flechasdb_spark.operators.knn import flat_knn, range_search
    from flechasdb_spark.plans.ivf import ann_range_query, ann_range_query_batch

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    r = sorted(
        x.squared_distance
        for x in flat_knn(emb, qv, k=12, round_to=4).collect()
    )[-1]
    exact = sorted(
        (x.vec_id, x.squared_distance)
        for x in range_search(emb, qv, radius=r, round_to=4).collect()
    )
    for scorer in ("sql", "kernel"):
        with _plan(scorer):
            got = sorted(
                (x.vector_id, x.squared_distance)
                for x in ann_range_query(
                    model, qv, radius=r, nprobe=CFG.num_partitions,
                    round_to=4, rerank=emb, rerank_slack=2.5,
                ).collect()
            )
        assert got == exact, scorer
    plain = sorted(
        (x.vector_id, x.squared_distance)
        for x in ann_range_query(
            model, qv, radius=r, nprobe=CFG.num_partitions, round_to=4
        ).collect()
    )
    assert plain != exact
    with _plan("kernel"):
        capped = ann_range_query_batch(
            model, [(3, qv)], radius=r, nprobe=CFG.num_partitions,
            round_to=4, rerank=emb, rerank_slack=2.5, limit_per_query=4,
        ).collect()
    assert sorted((x.rank, x.vector_id, x.squared_distance) for x in capped) == [
        (i + 1, v, d)
        for i, (d, v) in enumerate(
            sorted((d, v) for v, d in exact)[:4]
        )
    ]


def test_packed_pq_save_load_roundtrip_and_query_equality(
    model, emb, spark, tmp_path_factory
):
    """r10 packed PQ at rest (the save_ivfsq(pack_codes=True) sibling):
    codes stored as binary (2 codes/byte at C=16), lazily unpacked at
    load into the identical array<int> column — codes equal
    element-wise, schema identical, top-k AND radius queries equal,
    partition pruning intact."""
    from flechasdb_spark.plans.ivf import ann_range_query

    plain = str(tmp_path_factory.mktemp("pq_plain"))
    packed = str(tmp_path_factory.mktemp("pq_packed"))
    save_index(model, plain)
    save_index(model, packed, pack_codes=True)
    at_rest = spark.read.parquet(f"{packed}/index")
    assert "codes_bin" in at_rest.columns and "codes" not in at_rest.columns
    lp = load_index(spark, plain)
    lk = load_index(spark, packed)
    assert lp.encoded.schema["codes"].dataType.simpleString() == \
        lk.encoded.schema["codes"].dataType.simpleString()
    a = {r.vec_id: list(r.codes) for r in lp.encoded.collect()}
    b = {r.vec_id: list(r.codes) for r in lk.encoded.collect()}
    assert a == b
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 4).collect()
    ]
    key = lambda r: (r.query_id, r.rank)
    ra = sorted(
        (r.query_id, r.vector_id, r.squared_distance)
        for r in ann_query(lp, qs, k=5, nprobe=4, round_to=4).collect()
    )
    rb = sorted(
        (r.query_id, r.vector_id, r.squared_distance)
        for r in ann_query(lk, qs, k=5, nprobe=4, round_to=4).collect()
    )
    assert ra == rb
    qv = qs[0][1]
    va = sorted(
        (r.vector_id, r.squared_distance)
        for r in ann_range_query(lp, qv, radius=2.0, nprobe=4, round_to=4).collect()
    )
    vb = sorted(
        (r.vector_id, r.squared_distance)
        for r in ann_range_query(lk, qv, radius=2.0, nprobe=4, round_to=4).collect()
    )
    assert va == vb
    # a rounded query keeps the Spark scan (an unrounded one is served
    # on the driver, from the probed cells' files only)
    plan = (
        ann_query(lk, qs[:1], k=5, nprobe=2, round_to=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters: [" in ln]
    assert scan_lines and any(
        "partition_id" in ln and " IN (" in ln.split("PartitionFilters")[1]
        for ln in scan_lines
    ), scan_lines


def test_ann_query_empty_batch_returns_contract_schema(model):
    """An empty batch, as a list or a (0, N) array, returns no rows with
    the (query_id, vector_id, partition_id, squared_distance, rank)
    schema of a non-empty result — like the radius and SQ batch forms."""
    cols = ["query_id", "vector_id", "partition_id", "squared_distance", "rank"]
    full = ann_query(model, [(0, [0.0] * 64)], k=3, nprobe=2)
    for empty in ([], np.zeros((0, model.vector_size))):
        out = ann_query(model, empty, k=3, nprobe=2)
        assert out.columns == cols == full.columns
        assert out.count() == 0
        assert out.unionByName(full).count() == 3


def _saved_index(model, spark, tmp_path_factory, name):
    path = str(tmp_path_factory.mktemp(name))
    save_index(model, path)
    return load_index(spark, path)


def _plan_lines(df) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _has_literal_probe_cut(lines) -> bool:
    return any(
        " IN (" in ln.split("PartitionFilters: [")[1]
        for ln in lines
        if "PartitionFilters: [" in ln and "partition_id" in ln
    )


def _jobs_of_collect(spark, df, group: str):
    """(rows, Spark job ids) of ``df.collect()``, run under job group
    ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "ivfpq plan-shape gate")
    try:
        rows = df.collect()
        return rows, sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(f"{group}-done", "")


def test_small_sql_query_runs_as_one_task(model, emb, spark, tmp_path_factory):
    """A filtered sql-scored query under the single-task bound coalesces
    the pruned scan and the probe LocalRelation to one partition each
    and hash-joins them: the plan has no exchange of any kind, keeps the
    literal probe cut in the PartitionFilters, and the whole query is
    ONE Spark job. The same query unfiltered, on a loaded store, is
    served on the driver: its plan is one LocalTableScan, and collecting
    it runs no Spark job."""
    from flechasdb_spark.plans import ivf

    loaded = _saved_index(model, spark, tmp_path_factory, "one_task")
    pairs = 2 * loaded.num_vectors / loaded.config.num_partitions
    assert pairs < ivf._SINGLE_TASK_MAX_PAIRS
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    with _plan("sql"):
        out = ann_query(loaded, [(3, qv)], k=5, nprobe=2, where="label = 1")
    lines = _plan_lines(out)
    plan = "\n".join(lines)
    assert "Exchange" not in plan, plan
    joins = [i for i, ln in enumerate(lines) if "ShuffledHashJoin" in ln]
    assert len(joins) == 1, plan
    below = [ln.lstrip(" :+-") for ln in lines[joins[0] + 1 :]]
    assert sum(b.startswith("Coalesce 1") for b in below) == 2, plan
    assert "WindowGroupLimit" in plan, plan
    assert _has_literal_probe_cut(lines), plan
    rows, jobs = _jobs_of_collect(spark, out, "ivfpq-one-task-True")
    assert len(rows) == 5
    assert len(jobs) == 1, jobs

    with _plan("sql"):
        out = ann_query(loaded, [(3, qv)], k=5, nprobe=2)
    assert _served_on_driver(out), _plan_lines(out)
    rows, jobs = _jobs_of_collect(spark, out, "ivfpq-one-task-False")
    assert len(rows) == 5
    assert len(jobs) == 0, jobs


def test_sql_probe_table_is_local_relation(model, emb, spark, tmp_path_factory):
    """A sql-scored query above the single-task bound keeps the parallel
    plan: the probe/ADC table is built as Arrow on the driver, so Spark
    broadcasts a LocalTableScan — no pickled RDD (ExistingRDD) and no
    job of Python workers to ship it — with the literal probe cut in
    the PartitionFilters, a broadcast hash join and the WindowGroupLimit
    top-k. The store is loaded, so the Spark plan is forced: unforced,
    the query is under `_DRIVER_MAX_PAIRS` and served on the driver."""
    from flechasdb_spark.plans import ivf

    loaded = _saved_index(model, spark, tmp_path_factory, "local_rel")
    per_query = 2 * loaded.num_vectors / loaded.config.num_partitions
    n_q = int(ivf._SINGLE_TASK_MAX_PAIRS // per_query) + 1
    rows = emb.orderBy("vec_id").limit(n_q).collect()
    qs = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows]
    with _plan("sql") as mp:
        mp.setattr(ivf, "_store_cells", lambda model: None)
        out = ann_query(loaded, qs, k=5, nprobe=2)
    assert out.count() == 5 * n_q
    lines = _plan_lines(out)
    plan = "\n".join(lines)
    below = [
        lines[i + 1].lstrip(" :+-")
        for i, ln in enumerate(lines)
        if "BroadcastExchange" in ln
    ]
    assert below and all(b.startswith("LocalTableScan") for b in below), plan
    assert "ExistingRDD" not in plan and "Coalesce" not in plan, plan
    assert "BroadcastHashJoin" in plan and "WindowGroupLimit" in plan, plan
    assert _has_literal_probe_cut(lines), plan


@pytest.mark.parametrize("round_to", [None, 4])
def test_single_task_plan_matches_broadcast_plan(
    model, emb, round_to, monkeypatch
):
    """Forcing each sql plan by the single-task bound changes no row:
    top-k and radius results, with a where pre-filter, a rounded score
    and a per-query limit, are bit-identical."""
    from flechasdb_spark.plans import ivf
    from flechasdb_spark.plans.ivf import ann_range_query_batch

    rows = emb.where(F.col("vec_id").isin(3, 9, 21, 40)).orderBy("vec_id").collect()
    qids = [int(r.vec_id) for r in rows]
    qarr = np.array([r.embedding for r in rows], dtype=np.float64)

    def results():
        out = []
        for where in (None, "label = 1"):
            topk = ann_query(
                model, qarr, k=7, nprobe=3, query_ids=qids, where=where,
                round_to=round_to,
            )
            out.append(sorted(topk.collect()))
            for limit in (None, 3):
                radius = ann_range_query_batch(
                    model, qarr, radius=4.0, nprobe=3, query_ids=qids,
                    where=where, round_to=round_to, limit_per_query=limit,
                )
                out.append(sorted(radius.collect()))
        return out

    monkeypatch.setattr(ivf, "_KERNEL_MIN_DOUBLES", float("inf"))
    monkeypatch.setattr(ivf, "_SINGLE_TASK_MAX_PAIRS", float("inf"))
    single = results()
    monkeypatch.setattr(ivf, "_SINGLE_TASK_MAX_PAIRS", 0)
    broadcast = results()
    assert all(single), single
    assert single == broadcast


@pytest.fixture(scope="module")
def stores(model, emb, spark, tmp_path_factory):
    """Loaded stores of the fixture index: plain, packed, plain with
    lazy centroids, and an OPQ (balance_dims) index saved plain."""
    import dataclasses

    plain = str(tmp_path_factory.mktemp("st_plain"))
    packed = str(tmp_path_factory.mktemp("st_packed"))
    opq = str(tmp_path_factory.mktemp("st_opq"))
    save_index(model, plain)
    save_index(model, packed, pack_codes=True)
    opq_model = build_index(emb, dataclasses.replace(CFG, balance_dims=True))
    assert opq_model.dim_perm is not None
    save_index(opq_model, opq)
    return {
        "plain": load_index(spark, plain),
        "packed": load_index(spark, packed),
        "lazy": load_index(spark, plain, collect_centroids=False),
        "opq": load_index(spark, opq),
    }


def _served_on_driver(df) -> bool:
    lines = _plan_lines(df)
    return len(lines) == 1 and lines[0].startswith("LocalTableScan")


def test_driver_path_matches_single_task_plan(stores, emb):
    """A small unfiltered query on a loaded store is served on the driver
    (a LocalTableScan-only plan) and returns the single-task Spark plan's
    rows bit for bit, unrounded, in the same order (the unlimited batch
    radius form, whose Spark order is the scan's, compared sorted),
    with an equal schema, nullability included: every entry point, Q 1
    and 5, nprobe 0 and 4, k above the probed rows, on plain, packed,
    OPQ and lazy-centroid stores."""
    from flechasdb_spark.plans import ivf
    from flechasdb_spark.plans.ivf import ann_range_query, ann_range_query_batch

    rows = emb.where(F.col("vec_id").isin(3, 9, 21, 40, 55)).orderBy("vec_id").collect()
    qids = [int(r.vec_id) for r in rows]
    qarr = np.array([r.embedding for r in rows], dtype=np.float64)

    def forms(store, n_q, nprobe):
        q, ids = qarr[:n_q], qids[:n_q]
        yield "top-k", lambda: ann_query(store, q, k=1000, nprobe=nprobe, query_ids=ids)
        for limit in (None, 3):
            yield f"radius-batch-{limit}", lambda limit=limit: ann_range_query_batch(
                store, q, radius=4.0, nprobe=nprobe, query_ids=ids,
                limit_per_query=limit,
            )
            if n_q == 1:
                yield f"radius-{limit}", lambda limit=limit: ann_range_query(
                    store, list(q[0]), radius=4.0, nprobe=nprobe, limit=limit
                )

    compared = 0
    for name, store in stores.items():
        for n_q, nprobe in itertools.product((1, 5), (0, 4)):
            for form, call in forms(store, n_q, nprobe):
                driver = call()
                assert _served_on_driver(driver), (name, form)
                with pytest.MonkeyPatch.context() as mp:
                    mp.setattr(ivf, "_store_cells", lambda model: None)
                    spark_plan = call()
                # Spark folds an empty probe cut to a LocalTableScan too
                assert nprobe == 0 or not _served_on_driver(spark_plan), form
                got, want = driver.collect(), spark_plan.collect()
                if form == "radius-batch-None":
                    got, want = sorted(got), sorted(want)
                assert got == want, (name, n_q, nprobe, form)
                assert driver.schema == spark_plan.schema, (name, form)
                assert bool(got) == (nprobe > 0), (name, form)
                compared += 1
    assert compared == 4 * 2 * 2 * 3 + 4 * 2 * 2


def _in_query_order(rows):
    """Batch rows sorted by (query_id, rank), or by the whole row
    when they carry no rank (the unlimited radius form)."""
    if rows and "rank" in rows[0].asDict():
        return sorted(rows, key=lambda r: (r.query_id, r.rank))
    return sorted(rows)


def test_driver_path_matches_spark_plans_above_single_task_bound(stores, emb):
    """Batches above `_SINGLE_TASK_MAX_PAIRS` (Q=300 at nprobe 2, 4 and
    P on the plain store, at 4 on the packed, OPQ and lazy-centroid
    ones) are served on the driver and return the rows of the broadcast
    sql plan and of the kernel bit for bit, unrounded: top-k and radius
    with and without ``limit_per_query``, with equal schemas. The driver
    returns each query's rows in rank order; Spark's batch order across
    its shuffle partitions is the hash of query_id, so its rows are
    compared after sorting by (query_id, rank)."""
    from flechasdb_spark.plans import ivf
    from flechasdb_spark.plans.ivf import ann_range_query_batch

    rows = emb.orderBy("vec_id").limit(300).collect()
    qids = [int(r.vec_id) for r in rows]
    qarr = np.array([r.embedding for r in rows], dtype=np.float64)

    def forms(store, nprobe):
        yield "top-k", lambda: ann_query(
            store, qarr, k=10, nprobe=nprobe, query_ids=qids
        )
        for limit in (None, 3):
            yield f"radius-{limit}", lambda limit=limit: ann_range_query_batch(
                store, qarr, radius=1.6, nprobe=nprobe, query_ids=qids,
                limit_per_query=limit,
            )

    compared = 0
    for name, store in stores.items():
        for nprobe in (2, 4, store.config.num_partitions) if name == "plain" else (4,):
            assert ivf._pairs(store, len(qids) * nprobe) > ivf._SINGLE_TASK_MAX_PAIRS
            for form, call in forms(store, nprobe):
                driver = call()
                assert _served_on_driver(driver), (name, nprobe, form)
                got = driver.collect()
                assert got, (name, nprobe, form)
                if form != "radius-None":
                    assert got == _in_query_order(got), (name, form)
                got = _in_query_order(got)
                plans = {}
                for s in ("sql", "kernel"):
                    with _plan(s) as mp:
                        mp.setattr(ivf, "_store_cells", lambda model: None)
                        plans[s] = call()
                for scorer, plan in plans.items():
                    assert not _served_on_driver(plan), (name, form, scorer)
                    want = _in_query_order(plan.collect())
                    assert got == want, (name, nprobe, form, scorer)
                    assert driver.schema == plan.schema, (name, form, scorer)
                    compared += 1
    assert compared == (3 + 3) * 3 * 2


def test_driver_precut_keeps_exact_ties(spark, tmp_path_factory):
    """Rows that tie exactly at the k-th ADC score, within one cell
    (duplicated vectors) and across the two probed cells (mirrored
    residuals against mirrored codewords), survive the driver's
    per-probe pre-cut: every k and limit returns the Spark plan's ids in
    its order."""
    from flechasdb_spark.operators.build import assemble_index
    from flechasdb_spark.plans import ivf
    from flechasdb_spark.plans.ivf import ann_range_query, ann_range_query_batch

    cfg = IndexConfig(num_partitions=2, num_divisions=2, num_codes=8, seed=7)
    centroids = np.array([[10.0, 0, 0, 0], [-10.0, 0, 0, 0]])
    words = [[x, 0.0] for x in (1, 2, 3, -1, -2, -3, 0, 5)]
    codebooks = np.array([words, words])
    # (residual x, ids) per cell: x in cell 0 and -x in cell 1 score the
    # same for a query at the origin, ids interleave across the cells,
    # and each cell's file holds its tied rows in descending id order, so
    # a pre-cut that kept only the first `cut` rows would keep the wrong
    # ones
    layout = {
        0: [(1, [2]), (2, [14, 12, 10]), (3, [22, 20])],
        1: [(2, [13, 11]), (3, [21])],
    }
    data = [
        (vid, [float(centroids[cell][0] + (x if cell == 0 else -x)), 0.0, 0.0, 0.0])
        for cell, groups in layout.items()
        for x, ids in groups
        for vid in ids
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    df = df.coalesce(1)
    path = str(tmp_path_factory.mktemp("ties"))
    save_index(assemble_index(df, centroids, codebooks, cfg), path)
    store = load_index(spark, path)
    q = np.zeros((1, 4))

    def both(call):
        driver = call()
        assert _served_on_driver(driver)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(ivf, "_store_cells", lambda model: None)
            spark_rows = call().collect()
        return driver.collect(), spark_rows

    got, want = both(lambda: ann_query(store, q, k=1000, nprobe=2, query_ids=[0]))
    scores = {r.vector_id: r.squared_distance for r in got}
    assert len({scores[i] for i in (10, 11, 12, 13, 14)}) == 1
    assert len({scores[i] for i in (20, 21, 22)}) == 1
    assert got == want
    for n in range(1, len(data) + 1):
        got, want = both(lambda: ann_query(store, q, k=n, nprobe=2, query_ids=[0]))
        assert [r.vector_id for r in got] == [r.vector_id for r in want], n
        assert got == want, n
        got, want = both(lambda: ann_range_query_batch(
            store, q, radius=200.0, nprobe=2, query_ids=[0], limit_per_query=n
        ))
        assert got == want, n
        got, want = both(lambda: ann_range_query(
            store, [0.0] * 4, radius=200.0, nprobe=2, limit=n
        ))
        assert got == want, n
    top3 = ann_query(store, q, k=3, nprobe=2).collect()
    assert [r.vector_id for r in top3] == [2, 10, 11]


def test_driver_path_switches_at_driver_constant(spark, tmp_path_factory):
    """An unfiltered query on a loaded store just under
    `_DRIVER_MAX_PAIRS` estimated pairs is served on the driver and
    collects with no Spark job; at the bound it plans a Spark scan of
    the store. One cell (P=1) keeps the batch small: every query probes
    all of the store's rows."""
    from flechasdb_spark.operators.build import assemble_index
    from flechasdb_spark.plans import ivf

    rng = np.random.RandomState(3)
    cfg = IndexConfig(num_partitions=1, num_divisions=2, num_codes=4, seed=7)
    data = [(i, [float(x) for x in rng.randn(4)]) for i in range(500)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    path = str(tmp_path_factory.mktemp("driver_bound"))
    save_index(assemble_index(df, np.zeros((1, 4)), rng.randn(2, 4, 2), cfg), path)
    store = load_index(spark, path)
    n_q = -(-ivf._DRIVER_MAX_PAIRS // store.num_vectors)
    qarr = rng.randn(n_q, 4)
    assert ivf._pairs(store, n_q - 1) < ivf._DRIVER_MAX_PAIRS <= ivf._pairs(store, n_q)
    under = ann_query(store, qarr[: n_q - 1], k=2, nprobe=1)
    assert _served_on_driver(under)
    rows, jobs = _jobs_of_collect(spark, under, "ivfpq-driver-bound")
    assert len(rows) == 2 * (n_q - 1)
    assert len(jobs) == 0, jobs
    at = ann_query(store, qarr, k=2, nprobe=1)
    assert not _served_on_driver(at)
    assert any("FileScan" in ln for ln in _plan_lines(at)), _plan_lines(at)


def test_driver_path_fires_on_event(stores, emb):
    """On the driver path on_event still fires select_probes, adc_tables
    and plan_built, in that order; plan_built then includes the scan."""
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    events = []
    out = ann_query(
        stores["plain"], [(3, qv)], k=5, nprobe=4,
        on_event=lambda stage, seconds: events.append((stage, seconds)),
    )
    assert _served_on_driver(out)
    assert [e[0] for e in events] == ["select_probes", "adc_tables", "plan_built"]
    assert all(e[1] >= 0 for e in events)


def test_cell_codes_decode_like_unpack_codes_expr(spark, tmp_path):
    """The driver path's pyarrow decode of ``codes_bin`` equals Spark's
    `unpack_codes_expr` in both packing modes, for an odd D."""
    import pyarrow.parquet as pq

    from flechasdb_spark.operators.sq import pack_codes_expr, unpack_codes_expr
    from flechasdb_spark.plans.ivf import _cell_codes

    rng = np.random.RandomState(4)
    for mode, levels in (("nibble", 16), ("byte", 256)):
        codes = rng.randint(0, levels, size=(40, 7))
        df = spark.createDataFrame(
            [(i, [int(c) for c in row]) for i, row in enumerate(codes)],
            "id long, codes array<int>",
        ).select("id", pack_codes_expr("codes", mode).alias("codes_bin"))
        path = str(tmp_path / mode)
        df.coalesce(1).write.parquet(path)
        want = {
            r.id: list(r.c)
            for r in spark.read.parquet(path)
            .select("id", unpack_codes_expr("codes_bin", 7, mode).alias("c"))
            .collect()
        }
        t = pq.read_table(path, columns=["id", "codes_bin"])
        got = _cell_codes(t.column(1), 7, mode)
        assert got.shape == (40, 7)
        # a sliced column starts past its value buffer's first offset
        assert (_cell_codes(t.column(1).slice(5, 30), 7, mode) == got[5:35]).all()
        assert _cell_codes(t.column(1).slice(0, 0), 7, mode).shape == (0, 7)
        assert {int(i): list(g) for i, g in zip(t.column(0).to_pylist(), got)} == want
        assert want == {i: list(row) for i, row in enumerate(codes)}


def test_stale_listing_raises_on_both_paths(model, emb, spark, tmp_path_factory):
    """A model loaded before upsert_vectors rewrote its cells lists
    files that are gone: a query through the driver path and through the
    forced single-task Spark plan both raise, neither returns fewer rows;
    the store loaded again serves the same rows on both paths."""
    from flechasdb_spark.operators.maintenance import upsert_vectors
    from flechasdb_spark.plans import ivf

    path = str(tmp_path_factory.mktemp("stale"))
    save_index(model, path)
    stale = load_index(spark, path)
    qv = np.array([emb.where(F.col("vec_id") == 3).first()["embedding"]])
    before = ann_query(stale, qv, k=1000, nprobe=8).collect()
    moved = emb.where(F.col("vec_id") < 40).withColumn(
        "embedding", F.transform("embedding", lambda x: x * 1.01)
    )
    assert upsert_vectors(spark, stale, path, moved)
    with pytest.raises(FileNotFoundError):
        ann_query(stale, qv, k=1000, nprobe=8).collect()
    fresh = load_index(spark, path)
    after = ann_query(fresh, qv, k=1000, nprobe=8).collect()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ivf, "_store_cells", lambda model: None)
        with pytest.raises(Exception, match="FILE_NOT_EXIST"):
            ann_query(stale, qv, k=1000, nprobe=8).collect()
        assert ann_query(fresh, qv, k=1000, nprobe=8).collect() == after
    assert len(after) == len(before) == model.num_vectors


def test_sql_scores_equal_left_fold_of_adc_tables(model, emb, spark, tmp_path_factory):
    """Every unrounded distance, from either plan, is exactly the left
    fold, in division order from 0.0, of its probe's ADC table entries —
    with and without a where pre-filter."""
    from flechasdb_spark.plans import ivf
    from flechasdb_spark.plans.ivf import _adc_tables

    loaded = _saved_index(model, spark, tmp_path_factory, "left_fold")
    rows = emb.where(F.col("vec_id").isin(3, 9, 21)).orderBy("vec_id").collect()
    qids = [int(r.vec_id) for r in rows]
    qarr = np.array([r.embedding for r in rows], dtype=np.float64)
    probe_qidx, probe_pid = select_probes(loaded, qarr, 3)
    tables = _adc_tables(loaded, qarr, probe_qidx, loaded.centroids[probe_pid])
    probe = {
        (qids[qi], int(pid)): i
        for i, (qi, pid) in enumerate(zip(probe_qidx, probe_pid))
    }
    codes = {r.vec_id: list(r.codes) for r in loaded.encoded.collect()}
    for where, scorer in itertools.product((None, "label = 1"), ("sql", "kernel")):
        with _plan(scorer) as mp:
            if scorer == "kernel":
                mp.setattr(ivf, "_DRIVER_MAX_PAIRS", 0)
            out = ann_query(
                loaded, qarr, k=7, nprobe=3, query_ids=qids, where=where,
            ).collect()
        assert len(out) == 3 * 7
        for r in out:
            t = tables[probe[(r.query_id, r.partition_id)]]
            acc = 0.0
            for d, c in enumerate(codes[r.vector_id]):
                acc = acc + float(t[d, c])
            assert r.squared_distance == acc, (where, scorer, r)


def _sq_bq_models(emb):
    """An IVF+SQ and an IVF+BQ index over the fixture, whose centroids
    are its first P vectors."""
    from flechasdb_spark.plans.ivfbq import build_ivfbq
    from flechasdb_spark.plans.ivfsq import build_ivfsq

    cent = emb.where(F.col("vec_id") < CFG.num_partitions).select(
        F.col("vec_id").cast("int").alias("partition_id"),
        F.col("embedding").alias("centroid"),
    )
    return build_ivfsq(emb, cent), build_ivfbq(emb, cent, dim=64)


def test_negative_nprobe_raises(model, emb, spark, tmp_path_factory):
    """A negative nprobe raises ValueError on every family, with the
    centroids collected and with distributed probe selection."""
    from flechasdb_spark.plans.ivf import ann_range_query, ann_range_query_batch
    from flechasdb_spark.plans.ivfbq import ivfbq_query, ivfbq_query_batch
    from flechasdb_spark.plans.ivfsq import ivfsq_query, ivfsq_query_batch

    sq, bq = _sq_bq_models(emb)
    path = str(tmp_path_factory.mktemp("neg_nprobe"))
    save_index(model, path)
    lazy = load_index(spark, path, collect_centroids=False)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    calls = [
        lambda: select_probes(model, np.array([qv]), -1),
        lambda: ann_range_query(model, qv, radius=2.0, nprobe=-1),
        lambda: ivfsq_query(sq, qv, k=3, nprobe=-1),
        lambda: ivfbq_query(bq, qv, k=3, nprobe=-1),
    ]
    for pq in (model, lazy):
        calls += [
            lambda pq=pq: ann_query(pq, [(3, qv)], k=3, nprobe=-1),
            lambda pq=pq: ann_range_query_batch(
                pq, [(3, qv)], radius=2.0, nprobe=-1
            ),
        ]
    for cc in (True, False):
        calls += [
            lambda cc=cc: ivfsq_query_batch(
                sq, [(3, qv)], k=3, nprobe=-1, collect_centroids=cc
            ),
            lambda cc=cc: ivfbq_query_batch(
                bq, [qv], k=3, nprobe=-1, collect_centroids=cc
            ),
        ]
    for call in calls:
        with pytest.raises(ValueError, match="negative"):
            call()


def test_nprobe_zero_returns_no_rows(stores, emb):
    """nprobe=0 returns no rows, with the schema of the eager form, on
    every family with collected and with distributed probe selection:
    PQ loaded eagerly and with lazy centroids (filtered, the Spark plan,
    and unfiltered, the driver path), SQ and BQ batch forms."""
    from flechasdb_spark.plans.ivf import ann_range_query, ann_range_query_batch
    from flechasdb_spark.plans.ivfbq import ivfbq_query_batch
    from flechasdb_spark.plans.ivfsq import ivfsq_query_batch

    sq, bq = _sq_bq_models(emb)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    calls = {
        f"pq-{where}": lambda lazy, where=where: ann_query(
            stores["lazy" if lazy else "plain"], [(3, qv)], k=3, nprobe=0,
            where=where,
        )
        for where in (None, "label = 1")
    }
    calls["pq-range-batch"] = lambda lazy: ann_range_query_batch(
        stores["lazy" if lazy else "plain"], [(3, qv)], radius=2.0, nprobe=0,
        where="label = 1",
    )
    calls["pq-range"] = lambda lazy: ann_range_query(
        stores["lazy" if lazy else "plain"], qv, radius=2.0, nprobe=0
    )
    calls["sq"] = lambda lazy: ivfsq_query_batch(
        sq, [(3, qv)], k=3, nprobe=0, collect_centroids=not lazy
    )
    calls["bq"] = lambda lazy: ivfbq_query_batch(
        bq, [qv], 3, 0, collect_centroids=not lazy
    )
    for name, call in calls.items():
        eager, lazy = call(False), call(True)
        assert eager.collect() == lazy.collect() == [], name
        assert eager.schema == lazy.schema, name


def test_duplicate_or_missing_query_ids_raise(model, emb):
    """Two queries sharing an id, or a query_ids list whose length is
    not the query count, raise ValueError on every family's batch
    forms instead of pooling the two queries' candidates."""
    from flechasdb_spark.plans.ivf import ann_range_query_batch
    from flechasdb_spark.plans.ivfbq import (
        ivfbq_query_batch,
        ivfbq_range_query_batch,
    )
    from flechasdb_spark.plans.ivfsq import (
        ivfsq_query_batch,
        ivfsq_range_query_batch,
    )

    sq, bq = _sq_bq_models(emb)
    rows = emb.where(F.col("vec_id").isin(3, 9)).orderBy("vec_id").collect()
    vs = [[float(x) for x in r.embedding] for r in rows]
    qarr = np.array(vs)
    calls = {
        "duplicate": [
            lambda: ann_query(model, [(1, vs[0]), (1, vs[1])], k=3, nprobe=2),
            lambda: ann_query(model, qarr, k=3, nprobe=2, query_ids=[4, 4]),
            lambda: ann_range_query_batch(
                model, qarr, radius=2.0, nprobe=2, query_ids=[4, 4]
            ),
            lambda: ivfsq_query_batch(sq, [(1, vs[0]), (1, vs[1])], 3, 2),
            lambda: ivfsq_range_query_batch(
                sq, [(1, vs[0]), (1, vs[1])], 2.0, 2
            ),
            lambda: ivfbq_query_batch(bq, vs, 3, 2, query_ids=[4, 4]),
            lambda: ivfbq_range_query_batch(bq, vs, 9, 2, query_ids=[4, 4]),
        ],
        "query ids for": [
            lambda: ann_query(model, qarr, k=3, nprobe=2, query_ids=[4]),
            lambda: ann_range_query_batch(
                model, qarr, radius=2.0, nprobe=2, query_ids=[4, 5, 6]
            ),
            lambda: ivfbq_query_batch(bq, vs, 3, 2, query_ids=[4]),
        ],
    }
    for match, fns in calls.items():
        for call in fns:
            with pytest.raises(ValueError, match=match):
                call()


@pytest.fixture(scope="module")
def first_vectors(emb):
    """The fixture's first 40 vectors as a (40, 64) float64 array."""
    rows = emb.where(F.col("vec_id") < 40).orderBy("vec_id").collect()
    return np.array([r.embedding for r in rows], dtype=np.float64)


@pytest.fixture(scope="module")
def kept_stores(kept, spark, tmp_path_factory):
    """`kept` saved plain and with pack_codes=True, each loaded back."""
    out = {}
    for name, pack in (("plain", False), ("packed", True)):
        path = str(tmp_path_factory.mktemp(f"kept_{name}"))
        save_index(kept, path, pack_codes=pack)
        out[name] = load_index(spark, path)
    return out


@settings(max_examples=12, deadline=None)
@given(
    n_q=st.integers(1, 6),
    k=st.integers(1, 8),
    nprobe=st.integers(0, CFG.num_partitions),
    where=st.sampled_from([None, "label = 1"]),
    rerank=st.sampled_from([None, "frame", "stored"]),
    round_to=st.sampled_from([None, 4]),
    seed=st.integers(0, 2**16),
)
def test_pq_scorers_plans_and_batching_return_the_same_bits(
    kept, kept_stores, emb, first_vectors, n_q, k, nprobe, where, rerank,
    round_to, seed,
):
    """Forced sql (under both single-task plans), forced kernel and
    auto return bit-identical rows, and a batch returns exactly the
    rows of its queries run one at a time. On `kept` saved plain and
    packed, the driver path returns the forced single-task plan's rows,
    unrounded, in order."""
    from flechasdb_spark.plans import ivf

    rng = np.random.RandomState(seed)
    base = first_vectors[rng.choice(len(first_vectors), n_q)]
    qarr = base + rng.randn(n_q, 64) * 0.05
    qids = [int(q) for q in rng.choice(1000, n_q, replace=False)]
    kw = dict(
        k=k, nprobe=nprobe, where=where, round_to=round_to,
        rerank=emb if rerank == "frame" else rerank,
    )

    def run(queries, ids):
        return sorted(
            ann_query(kept, queries, query_ids=ids, **kw).collect()
        )

    results = {"auto": run(qarr, qids)}
    with _plan("kernel"):
        results["kernel"] = run(qarr, qids)
    if rerank != "stored":
        with _plan("sql") as mp:
            for bound in (float("inf"), 0):
                mp.setattr(ivf, "_SINGLE_TASK_MAX_PAIRS", bound)
                results[f"sql-{bound}"] = run(qarr, qids)
    results["per-query"] = sorted(
        r for i in range(n_q) for r in run(qarr[i : i + 1], qids[i : i + 1])
    )
    want = results.pop("auto")
    for name, got in results.items():
        assert got == want, name
    for name, store in kept_stores.items():
        driver = ann_query(store, qarr, k=k, nprobe=nprobe, query_ids=qids)
        assert _served_on_driver(driver), name
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(ivf, "_store_cells", lambda model: None)
            single = ann_query(store, qarr, k=k, nprobe=nprobe, query_ids=qids)
        assert driver.collect() == single.collect(), name


def test_auto_scorer_switches_at_kernel_constant(model, emb, kept):
    """A query runs the sql plan (no MapInPandas) just under
    `_KERNEL_MIN_DOUBLES` ADC-table doubles and the NumPy kernel at it;
    rerank='stored' always runs the kernel."""
    from flechasdb_spark.plans import ivf

    nprobe = 8
    per_query = nprobe * CFG.num_divisions * CFG.num_codes
    n_q = -(-ivf._KERNEL_MIN_DOUBLES // per_query)
    qarr = np.random.RandomState(0).randn(n_q, 64)
    under = ann_query(model, qarr[: n_q - 1], k=5, nprobe=nprobe)
    assert "MapInPandas" not in "\n".join(_plan_lines(under))
    at = ann_query(model, qarr, k=5, nprobe=nprobe)
    assert "MapInPandas" in "\n".join(_plan_lines(at))
    qs = [(0, [0.0] * 64)]
    stored = ann_query(kept, qs, k=5, nprobe=2, rerank="stored")
    assert "MapInPandas" in "\n".join(_plan_lines(stored))


def test_adc_tables_chunks_match_unchunked_einsum(stores, monkeypatch):
    """`_adc_tables` built in probe chunks of about 1 (at least 2), 7,
    256 and 1,000 probes returns the unchunked einsum's tables bit for
    bit, on the plain store and on the OPQ (``dim_perm``) one."""
    from flechasdb_spark.plans import ivf

    qarr = np.random.RandomState(3).randn(301, 64)
    for name in ("plain", "opq"):
        store = stores[name]
        probe_qidx, probe_pid = select_probes(store, qarr, 4)
        cent = store.centroids[probe_pid]
        d, c, w = store.codebooks.shape
        local = qarr[probe_qidx] - cent
        if store.dim_perm is not None:
            local = local[:, np.asarray(store.dim_perm, dtype=int)]
        diff = local.reshape(-1, d, w)[:, :, None, :] - store.codebooks[None]
        want = np.einsum("qdcw,qdcw->qdc", diff, diff)
        for chunk in (1, 7, 256, 1000):
            monkeypatch.setattr(ivf, "_CHUNK_DOUBLES", chunk * d * c * w)
            got = ivf._adc_tables(store, qarr, probe_qidx, cent)
            assert got.dtype == want.dtype and got.shape == want.shape
            assert got.tobytes() == want.tobytes(), (name, chunk)


def _exact_search(vecs, ids, q):
    """(distance, id) of every rerank-table row against the float64
    query ``q``, scored as `plans.ivf._exact` folds, sorted by (distance,
    id)."""
    from flechasdb_spark.plans.ivf import _left_fold

    diff = vecs - q
    return sorted(zip(_left_fold(diff * diff).tolist(), ids.tolist()))


@pytest.fixture(scope="module")
def rerank_table(emb):
    """(ids, float64 vectors) of the fixture as the re-rank table holds
    them, ordered by id, and the IVF+SQ and IVF+BQ indexes over it."""
    table = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in table], dtype=np.int64)
    vecs = np.array([r.embedding for r in table], dtype=np.float32)
    return ids, vecs.astype(np.float64), *_sq_bq_models(emb)


@settings(max_examples=3, deadline=None)
@given(
    n_q=st.integers(1, 3),
    k=st.integers(1, 6),
    nth=st.integers(1, 30),
    seed=st.integers(0, 2**16),
)
def test_shared_tail_rerank_equals_exact_search(
    kept, emb, first_vectors, rerank_table, n_q, k, nth, seed
):
    """With every probe scanned (nprobe = P) and a survivor budget that
    covers every row — ``k * rerank_factor`` >= the index size, a radius
    gate above every scan score (PQ/SQ ``radius * rerank_slack``, BQ's
    Hamming radius = dim) — the re-ranked top-k and radius results of
    PQ (frame and stored), SQ and BQ, solo and batch, equal a NumPy exact
    search over the re-rank table bit for bit, unrounded, ordered by
    (distance, id)."""
    from flechasdb_spark.plans import ivfbq, ivfsq
    from flechasdb_spark.plans.ivf import ann_range_query, ann_range_query_batch

    ids, vecs, sq, bq = rerank_table
    rng = np.random.RandomState(seed)
    qarr = first_vectors[rng.choice(len(first_vectors), n_q)] + rng.randn(n_q, 64) * 0.05
    qids = [int(q) for q in rng.choice(1000, n_q, replace=False)]
    exact = [_exact_search(vecs, ids, q) for q in qarr]
    radius = exact[0][nth][0]
    factor = -(-len(ids) // k)
    P = CFG.num_partitions
    qlist = [(i, list(v)) for i, v in zip(qids, qarr)]

    def topk(qi):
        return [(i, d) for d, i in exact[qi][:k]]

    def within(qi):
        return [(i, d) for d, i in exact[qi] if d <= radius]

    def batch_topk(rows, id_col):
        got = sorted(rows, key=lambda r: (r.query_id, r.rank))
        assert [r.rank for r in got] == [j + 1 for _ in qids for j in range(k)]
        return [(r.query_id, r[id_col], r.squared_distance) for r in got]

    want_topk = [(q, i, d) for q, qi in sorted(zip(qids, range(n_q))) for i, d in topk(qi)]
    want_radius = sorted((q, d, i) for qi, q in enumerate(qids) for i, d in within(qi))

    def batch_radius(rows, id_col):
        return sorted((r.query_id, r.squared_distance, r[id_col]) for r in rows)

    def solo(rows, id_col):
        return [(r[id_col], r.squared_distance) for r in rows]

    slack = 1e9 / radius
    for rerank in (emb, "stored"):
        rows = ann_query(
            kept, qarr, k=k, nprobe=P, query_ids=qids, rerank=rerank,
            rerank_factor=factor,
        ).collect()
        assert batch_topk(rows, "vector_id") == want_topk, rerank
    rows = ann_range_query_batch(
        kept, qarr, radius=radius, nprobe=P, query_ids=qids, rerank=emb,
        rerank_slack=slack,
    ).collect()
    assert batch_radius(rows, "vector_id") == want_radius
    rows = ann_range_query(
        kept, list(qarr[0]), radius=radius, nprobe=P, rerank=emb,
        rerank_slack=slack,
    ).collect()
    assert solo(rows, "vector_id") == within(0)

    rows = ivfsq.ivfsq_query_batch(
        sq, qlist, k=k, nprobe=P, rerank=emb, rerank_factor=factor
    ).collect()
    assert batch_topk(rows, "vec_id") == want_topk
    rows = ivfsq.ivfsq_query(
        sq, list(qarr[0]), k=k, nprobe=P, rerank=emb, rerank_factor=factor
    ).collect()
    assert solo(rows, "vec_id") == topk(0)
    rows = ivfsq.ivfsq_range_query_batch(
        sq, qlist, radius=radius, nprobe=P, rerank=emb, rerank_slack=slack
    ).collect()
    assert batch_radius(rows, "vec_id") == want_radius
    rows = ivfsq.ivfsq_range_query(
        sq, list(qarr[0]), radius=radius, nprobe=P, rerank=emb,
        rerank_slack=slack,
    ).collect()
    assert solo(rows, "vec_id") == within(0)

    rows = ivfbq.ivfbq_query_batch(
        bq, [list(v) for v in qarr], k=k, nprobe=P, query_ids=qids,
        rerank=emb, rerank_factor=factor,
    ).collect()
    assert batch_topk(rows, "vec_id") == want_topk
    rows = ivfbq.ivfbq_query(
        bq, list(qarr[0]), k=k, nprobe=P, rerank=emb, rerank_factor=factor
    ).collect()
    assert solo(rows, "vec_id") == topk(0)
    rows = ivfbq.ivfbq_range_query_batch(
        bq, [list(v) for v in qarr], radius=bq.dim, nprobe=P,
        query_ids=qids, rerank=emb, exact_radius=radius,
    ).collect()
    assert batch_radius(rows, "vec_id") == want_radius
    rows = ivfbq.ivfbq_range_query(
        bq, list(qarr[0]), radius=bq.dim, nprobe=P, rerank=emb,
        exact_radius=radius,
    ).collect()
    assert solo(rows, "vec_id") == within(0)
