"""IVF+BQ composition (VERDICT r10 #3 — the FAISS IndexBinaryIVF
analogue, the last cell of the quantizer x IVF grid): coarse k-means
routing + per-cell packed threshold bits + probe-pruned Hamming scan.
Integer-exact end to end; the registry rows ivfbq_knn /
ivfbq_hamming_range carry the full DuckDB oracles."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flechasdb_spark.operators.bq import bq_encode, hamming_knn, pack_bits_py
from flechasdb_spark.plans.ivfbq import (
    build_ivfbq,
    ivfbq_query,
    ivfbq_query_batch,
    ivfbq_range_query,
    load_ivfbq,
    save_ivfbq,
    train_ivfbq,
)

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
DIM = 64
P = 8


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def model(spark, emb):
    cent = emb.where(F.col("vec_id") < P).select(
        F.col("vec_id").cast("int").alias("partition_id"),
        F.col("embedding").alias("centroid"),
    )
    return build_ivfbq(emb, cent, dim=DIM)


def test_full_probe_equals_flat_hamming(spark, emb, model):
    """nprobe=P (every cell probed) must equal the flat Hamming top-k:
    IVF only routes, the codes are identical to bq_encode's."""
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    flat = hamming_knn(bq_encode(emb, dim=DIM), pack_bits_py(qv), k=15).collect()
    ivf = ivfbq_query(model, qv, k=15, nprobe=P).collect()
    assert [(r.vec_id, r.hamming_distance) for r in ivf] == [
        (r.vec_id, r.hamming_distance) for r in flat
    ]


def test_partial_probe_subset_and_monotone(spark, emb, model):
    """Partial probing returns only probed-cell members, and recall is
    monotone in nprobe on the fixture (standard IVF contract)."""
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    exact = {r.vec_id for r in ivfbq_query(model, qv, k=10, nprobe=P).collect()}
    prev = 0.0
    for np_ in (1, 3, P):
        got = {r.vec_id for r in ivfbq_query(model, qv, k=10, nprobe=np_).collect()}
        rec = len(got & exact) / len(exact)
        assert rec >= prev - 1e-9
        prev = rec
    assert prev == 1.0


def test_range_full_probe_equals_filterall(spark, emb, model):
    """Full-probe radius equals the flat scan filtered at the radius;
    partial probe is a subset."""
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    enc = bq_encode(emb, dim=DIM)
    qw = pack_bits_py(qv)
    full = hamming_knn(enc, qw, k=emb.count()).collect()
    r = sorted(x.hamming_distance for x in full)[12]
    want = sorted((x.hamming_distance, x.vec_id) for x in full if x.hamming_distance <= r)
    got = ivfbq_range_query(model, qv, radius=r, nprobe=P).collect()
    assert [(x.hamming_distance, x.vec_id) for x in got] == want
    part = ivfbq_range_query(model, qv, radius=r, nprobe=2).collect()
    assert set((x.hamming_distance, x.vec_id) for x in part) <= set(want)
    lim = ivfbq_range_query(model, qv, radius=r, nprobe=P, limit=4).collect()
    assert [(x.hamming_distance, x.vec_id) for x in lim] == want[:4]


def test_batch_matches_solo(spark, emb, model):
    """Batched serving returns each query's solo result."""
    qs = [
        [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(2, 9, 17)).orderBy("vec_id").collect()
    ]
    batch = ivfbq_query_batch(model, qs, k=5, nprobe=3, query_ids=[2, 9, 17])
    got = {
        (r.query_id, r.rank): (r.vec_id, r.hamming_distance)
        for r in batch.collect()
    }
    for qid, qv in zip([2, 9, 17], qs):
        solo = ivfbq_query(model, qv, k=5, nprobe=3).collect()
        for i, s in enumerate(solo, start=1):
            assert got[(qid, i)] == (s.vec_id, s.hamming_distance), (qid, i)


def test_save_load_roundtrip_and_pruning(spark, emb, model, tmp_path):
    """Persisted index serves identically, and the probe filter lands
    as a static Parquet PartitionFilter on the at-rest layout (the
    literal-isin plan gate, same contract as the SQ/PQ indexes)."""
    path = str(tmp_path / "bividx")
    save_ivfbq(model, path)
    loaded = load_ivfbq(spark, path)
    assert loaded.dim == DIM and loaded.thresholds is None
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    want = ivfbq_query(model, qv, k=10, nprobe=3).collect()
    got = ivfbq_query(loaded, qv, k=10, nprobe=3).collect()
    assert [(r.vec_id, r.hamming_distance) for r in got] == [
        (r.vec_id, r.hamming_distance) for r in want
    ]
    plan = (
        ivfbq_query(loaded, qv, k=10, nprobe=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [partition_id" in plan.replace("\n", " ") or (
        "partition_id IN" in plan
    ), plan[:2000]
    # attributes directory layout: only cell dirs exist
    dirs = sorted(
        d for d in os.listdir(os.path.join(path, "index")) if d.startswith("partition_id=")
    )
    assert len(dirs) == P


def test_where_filter_and_attrs(spark, emb):
    """attr_cols persist onto encoded rows; `where` gates before
    scoring on both topk and radius paths."""
    cent = emb.where(F.col("vec_id") < P).select(
        F.col("vec_id").cast("int").alias("partition_id"),
        F.col("embedding").alias("centroid"),
    )
    m = build_ivfbq(emb, cent, dim=DIM, attr_cols=("label",))
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    out = ivfbq_query(m, qv, k=8, nprobe=P, where=F.col("label") == 1)
    labels = {
        r.label
        for r in m.encoded.join(
            out.select("vec_id"), "vec_id"
        ).select("label").collect()
    }
    assert labels == {1}
    rng = ivfbq_range_query(m, qv, radius=DIM, nprobe=P, where="label = 1")
    assert rng.count() == m.encoded.where("label = 1").count()


def test_train_ivfbq_end_to_end(spark, emb):
    """Trained path (sampled k-means + optional mean thresholds):
    full-probe recall vs flat Hamming is 1.0 by construction; mean
    thresholds change the code geometry but keep the contract."""
    m = train_ivfbq(emb, dim=DIM, num_partitions=5, seed=3)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 11).first()["embedding"]]
    flat = hamming_knn(bq_encode(emb, dim=DIM), pack_bits_py(qv), k=10).collect()
    got = ivfbq_query(m, qv, k=10, nprobe=5).collect()
    assert [(r.vec_id, r.hamming_distance) for r in got] == [
        (r.vec_id, r.hamming_distance) for r in flat
    ]
    mt = train_ivfbq(emb, dim=DIM, num_partitions=5, seed=3, thresholds="mean")
    assert len(mt.thresholds) == DIM
    assert ivfbq_query(mt, qv, k=10, nprobe=5).count() == 10


def test_plan_is_pure_codegen(spark, emb, model):
    """No Python evaluation anywhere in the serving plan."""
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    plan = (
        ivfbq_query(model, qv, k=10, nprobe=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_itq_composition_full_probe_matches_flat_itq(spark, emb):
    """ITQ+IVF+BQ (learned-rotation bits at index cost): full probe
    equals the flat ITQ Hamming top-k (`itq_encode` + single-word
    hamming), the trained-model policy's structural gate; radius form
    filters the same distances; the query's driver-packed word matches
    the engine's own encode of the query vector bit-for-bit."""
    from flechasdb_spark.operators.itq import itq_encode, itq_train
    from flechasdb_spark.plans.ivfbq import (
        _itq_query_word,
        build_itq_ivfbq,
        itq_ivfbq_query,
        itq_ivfbq_range_query,
    )

    itq = itq_train(emb, bits=16, iters=8, sample_n=10_000)
    cent = emb.where(F.col("vec_id") < P).select(
        F.col("vec_id").cast("int").alias("partition_id"),
        F.col("embedding").alias("centroid"),
    )
    m = build_itq_ivfbq(emb, cent, itq)
    qrow = emb.where(F.col("vec_id") == 5).first()
    qv = [float(x) for x in qrow["embedding"]]

    # query packing parity: driver word == engine's encode of the query
    eng = itq_encode(
        emb.where(F.col("vec_id") == 5), itq
    ).first()["code"]
    assert _itq_query_word(itq, qv) == eng

    flat = itq_encode(emb, itq).select(
        "vec_id", F.array("code").alias("words")
    )
    from flechasdb_spark.operators.bq import hamming_knn

    want = hamming_knn(flat, [eng], k=12).collect()
    got = itq_ivfbq_query(m, qv, k=12, nprobe=P).collect()
    assert [(r.vec_id, r.hamming_distance) for r in got] == [
        (r.vec_id, r.hamming_distance) for r in want
    ]
    # radius: equals the filtered full-rank list at full probe
    r = want[7].hamming_distance
    rng = itq_ivfbq_range_query(m, qv, radius=r, nprobe=P).collect()
    full = hamming_knn(flat, [eng], k=emb.count()).collect()
    assert [(x.hamming_distance, x.vec_id) for x in rng] == sorted(
        (x.hamming_distance, x.vec_id) for x in full if x.hamming_distance <= r
    )
    # partial probe returns a subset
    part = itq_ivfbq_query(m, qv, k=12, nprobe=2).collect()
    assert {x.vec_id for x in part} <= {x.vec_id for x in full}


def test_itq_composition_save_load_roundtrip(spark, emb, tmp_path):
    """Persisted ITQ composition serves identically (the ITQ model —
    mean, components, losses — round-trips through the manifest) and
    the probe filter still prunes the at-rest layout."""
    from flechasdb_spark.operators.itq import itq_train
    from flechasdb_spark.plans.ivfbq import (
        build_itq_ivfbq,
        itq_ivfbq_query,
        load_itq_ivfbq,
        save_itq_ivfbq,
    )

    itq = itq_train(emb, bits=16, iters=8, sample_n=10_000)
    cent = emb.where(F.col("vec_id") < P).select(
        F.col("vec_id").cast("int").alias("partition_id"),
        F.col("embedding").alias("centroid"),
    )
    m = build_itq_ivfbq(emb, cent, itq)
    path = str(tmp_path / "itqidx")
    save_itq_ivfbq(m, path)
    loaded = load_itq_ivfbq(spark, path)
    assert loaded.itq == itq  # frozen dataclass equality: exact floats
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    want = itq_ivfbq_query(m, qv, k=10, nprobe=3).collect()
    got = itq_ivfbq_query(loaded, qv, k=10, nprobe=3).collect()
    assert [(r.vec_id, r.hamming_distance) for r in got] == [
        (r.vec_id, r.hamming_distance) for r in want
    ]
    plan = (
        itq_ivfbq_query(loaded, qv, k=10, nprobe=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [partition_id" in plan.replace("\n", " ")


def test_auto_nprobe_is_family_agnostic_on_bq(spark, emb, model):
    """The tuning loop (eval.auto_nprobe) wraps ANY search_fn — here
    the binary family's batch path — and still early-stops at the
    smallest sufficient nprobe. Exact baseline = full-probe Hamming
    (recall 1.0 at nprobe=P by construction), so the returned knob is
    always <= P and the curve is monotone on this fixture."""
    from flechasdb_spark.operators.eval import auto_nprobe
    from flechasdb_spark.plans.ivfbq import ivfbq_query_batch

    qids = [2, 9, 17]
    qs = [
        [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(qids)).orderBy("vec_id").collect()
    ]
    exact = ivfbq_query_batch(
        model, qs, k=5, nprobe=P, query_ids=qids
    ).select("query_id", "vec_id")

    def search(np_):
        return ivfbq_query_batch(
            model, qs, k=5, nprobe=np_, query_ids=qids
        ).select("query_id", "vec_id")

    best, curve = auto_nprobe(exact, search, [1, 2, P], 0.99)
    assert best is not None and best <= P
    recs = [r for _, r in curve]
    assert recs == sorted(recs)  # monotone on the fixture
    assert recs[-1] >= 0.99


def test_asymmetric_composition_full_probe_matches_flat(spark, emb, model):
    """ivfbq_asymmetric_query at nprobe=P equals the flat asymmetric
    scan; partial probe is a subset of the probed cells' members."""
    from flechasdb_spark.operators.bq import hamming_asymmetric_knn
    from flechasdb_spark.plans.ivfbq import ivfbq_asymmetric_query

    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    flat = hamming_asymmetric_knn(bq_encode(emb, dim=DIM), qv, k=10).collect()
    got = ivfbq_asymmetric_query(model, qv, k=10, nprobe=P).collect()
    assert [(r.vec_id, r.asym_micro) for r in got] == [
        (r.vec_id, r.asym_micro) for r in flat
    ]
    part = ivfbq_asymmetric_query(model, qv, k=10, nprobe=2).collect()
    assert {r.vec_id for r in part} <= {
        r.vec_id
        for r in model.encoded.join(
            ivfbq_asymmetric_query(model, qv, k=emb.count(), nprobe=2)
            .select("vec_id"),
            "vec_id",
        ).collect()
    }


def test_ivfbq_upsert_and_generic_deletes(spark, emb, model, tmp_path):
    """r11 maintenance parity for the binary family: ivfbq_upsert
    replaces/inserts through the crash-consistent cell rewrite, and
    the schema-driven delete paths (ivfsq_delete, delete_where) work
    on an ivfbq store as-is."""
    from flechasdb_spark.operators.maintenance import (
        delete_where,
        ivfbq_upsert,
        ivfsq_delete,
    )

    cent = emb.where(F.col("vec_id") < P).select(
        F.col("vec_id").cast("int").alias("partition_id"),
        F.col("embedding").alias("centroid"),
    )
    m = build_ivfbq(emb, cent, dim=DIM, attr_cols=("label",))
    path = str(tmp_path / "bq_maint")
    save_ivfbq(m, path)
    n0 = spark.read.parquet(f"{path}/index").count()

    # upsert: 3 fresh ids + replace id 10 with vector 11's embedding
    fresh = emb.where(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding", "label"
    )
    rep = emb.where(F.col("vec_id") == 11).select(
        F.lit(10).cast("long").alias("vec_id"), "embedding", "label"
    )
    touched = ivfbq_upsert(
        spark, m, path, fresh.unionAll(rep), attr_cols=("label",)
    )
    assert touched
    after = spark.read.parquet(f"{path}/index")
    assert after.count() == n0 + 3
    got10 = after.where("vec_id = 10").first()
    want11 = m.encoded.where("vec_id = 11").first()
    assert list(got10.words) == list(want11.words)  # replaced with 11's code

    # generic id delete
    ivfsq_delete(spark, path, [900000, 900001])
    assert spark.read.parquet(f"{path}/index").where(
        "vec_id >= 900000"
    ).count() == 1

    # generic predicate delete over the attribute column
    k1 = spark.read.parquet(f"{path}/index").where("label = 1").count()
    assert k1 > 0
    delete_where(spark, path, "label = 1")
    left = spark.read.parquet(f"{path}/index")
    assert left.where("label = 1").count() == 0
    # the store still serves
    from flechasdb_spark.plans.ivfbq import load_ivfbq

    loaded = load_ivfbq(spark, path)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    assert ivfbq_query(loaded, qv, k=5, nprobe=P).count() == 5


def test_batch_probe_fold_matches_per_query_and_distributed(spark, emb, model):
    """VERDICT r11 #3 equivalence gate: the one-pass dimension-major
    probe fold (collect_centroids=True), the distributed
    select_probes_df path (False), and a per-query `flat_knn` over the
    centroid table all select the SAME probed cells per query, in the
    same order (ties by partition_id), so the batch result is
    identical across modes and to Q solo queries."""
    import numpy as np

    from flechasdb_spark.operators.knn import flat_knn
    from flechasdb_spark.plans.ivf import _centroid_probes

    qids = [2, 9, 17, 33]
    qs = [
        [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(qids)).orderBy("vec_id").collect()
    ]
    probes = {}
    for cc in (True, False):
        qidx, pids, _ = _centroid_probes(
            model.centroids, np.array(qs), qids, 3, cc
        )
        probes[cc] = [(qids[i], int(p)) for i, p in zip(qidx, pids)]
    per_query = [
        (qid, int(r["partition_id"]))
        for qid, qv in zip(qids, qs)
        for r in flat_knn(
            model.centroids, qv, k=3, id_col="partition_id", vec_col="centroid"
        ).collect()
    ]
    assert probes[True] == probes[False] == per_query
    a = ivfbq_query_batch(model, qs, k=5, nprobe=3, query_ids=qids).collect()
    b = ivfbq_query_batch(
        model, qs, k=5, nprobe=3, query_ids=qids, collect_centroids=False
    ).collect()
    key = lambda rows: sorted(
        (r.query_id, r.rank, r.vec_id, r.hamming_distance) for r in rows
    )
    assert key(a) == key(b)


def test_batch_phase1_schedules_one_probe_job(spark, emb, model):
    """VERDICT r11 #3 scale gate: building the batch plan schedules
    exactly ONE driver job for probe selection (the centroid collect),
    regardless of Q — the former per-query loop scheduled Q. Counted
    via a job group on the live scheduler."""
    sc = spark.sparkContext

    def phase1_jobs(n_queries, group):
        qids = list(range(n_queries))
        qs = [
            [float(x) for x in r.embedding]
            for r in emb.where(F.col("vec_id") < n_queries)
            .orderBy("vec_id")
            .collect()
        ]
        sc.setJobGroup(group, "probe job gate")
        try:
            df = ivfbq_query_batch(model, qs, k=3, nprobe=3, query_ids=qids)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup(f"{group}-done", "")
        return df, len(jobs)

    df6, j6 = phase1_jobs(6, "ivfbq-batch-p1-q6")
    _, j12 = phase1_jobs(12, "ivfbq-batch-p1-q12")
    assert j6 == 1, j6  # ONE centroid-collect job, no per-query loop
    assert j12 == j6  # and independent of Q
    assert df6.count() > 0  # the plan still executes


def test_ivfbq_rerank_solo_matches_restricted_flat(spark, emb, model):
    """VERDICT r11 #4: exact re-rank == flat exact kNN restricted to
    the Hamming top-(k*factor) candidate set (the IndexBinaryIVF +
    IndexRefine contract), and the rounded-output form matches the
    frozen-row convention."""
    from flechasdb_spark.operators.knn import flat_knn

    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    cand = [
        r.vec_id for r in ivfbq_query(model, qv, k=40, nprobe=3).collect()
    ]
    want = flat_knn(
        emb.where(F.col("vec_id").isin(cand)), qv, k=10, round_to=4
    ).collect()
    got = ivfbq_query(
        model, qv, k=10, nprobe=3, rerank=emb, rerank_factor=4, round_to=4
    ).collect()
    assert [(r.vec_id, r.squared_distance) for r in got] == [
        (r.vec_id, r.squared_distance) for r in want
    ]


def test_ivfbq_rerank_recall_ge_symmetric(spark, emb, model):
    """Property gate (VERDICT r11 #4): exact re-rank recall vs the
    exact-kNN truth is >= the symmetric Hamming path at equal nprobe,
    averaged over queries — binary codes are the coarsest family, so
    refinement must not lose recall."""
    from flechasdb_spark.operators.knn import flat_knn

    truth_pool = emb.where(F.col("vec_id").isin(3, 12, 21, 30, 44))
    q_rows = truth_pool.orderBy("vec_id").collect()
    rec_sym, rec_rr = 0.0, 0.0
    for r in q_rows:
        qv = [float(x) for x in r.embedding]
        truth = {x.vec_id for x in flat_knn(emb, qv, k=10).collect()}
        sym = {
            x.vec_id
            for x in ivfbq_query(model, qv, k=10, nprobe=3).collect()
        }
        rr = {
            x.vec_id
            for x in ivfbq_query(
                model, qv, k=10, nprobe=3, rerank=emb, rerank_factor=4
            ).collect()
        }
        rec_sym += len(sym & truth) / 10.0
        rec_rr += len(rr & truth) / 10.0
    assert rec_rr >= rec_sym - 1e-9, (rec_rr, rec_sym)


def test_ivfbq_rerank_batch_matches_solo(spark, emb, model):
    """Batch rerank returns each query's solo-rerank result (both
    collect_centroids modes)."""
    qids = [2, 9, 17]
    qs = [
        [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(qids)).orderBy("vec_id").collect()
    ]
    for cc in (True, False):
        batch = ivfbq_query_batch(
            model, qs, k=5, nprobe=3, query_ids=qids,
            rerank=emb, rerank_factor=4, round_to=4, collect_centroids=cc,
        ).collect()
        got = {
            (r.query_id, r.rank): (r.vec_id, r.squared_distance)
            for r in batch
        }
        assert len(got) == len(batch)
        for qid, qv in zip(qids, qs):
            solo = ivfbq_query(
                model, qv, k=5, nprobe=3, rerank=emb, rerank_factor=4,
                round_to=4,
            ).collect()
            for i, s in enumerate(solo, start=1):
                assert got[(qid, i)] == (s.vec_id, s.squared_distance), (qid, i)


def test_ivfbq_range_rerank_exact_filter(spark, emb, model):
    """Range refine: Hamming radius gates candidates, the exact
    (rounded) squared-L2 filter at exact_radius decides membership —
    equals the flat range search restricted to the Hamming matches."""
    from flechasdb_spark.operators.knn import range_search

    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    ham = ivfbq_range_query(model, qv, radius=28, nprobe=P).collect()
    ham_ids = [r.vec_id for r in ham]
    assert ham_ids
    exact_all = range_search(
        emb.where(F.col("vec_id").isin(ham_ids)), qv, radius=30.0, round_to=4
    ).collect()
    want = sorted((r.squared_distance, r.vec_id) for r in exact_all)
    got = ivfbq_range_query(
        model, qv, radius=28, nprobe=P, rerank=emb, exact_radius=30.0,
        round_to=4,
    ).collect()
    assert [(r.squared_distance, r.vec_id) for r in got] == want
    with pytest.raises(ValueError, match="exact_radius"):
        ivfbq_range_query(model, qv, radius=28, nprobe=P, rerank=emb)


def test_itq_batch_matches_solo_and_prunes(spark, emb, tmp_path):
    """VERDICT r11 #6: ITQ-composition batch serving == Q solo
    queries (both phase-1 modes), and the persisted form's batch scan
    still prunes at rest (PartitionFilter plan gate)."""
    from flechasdb_spark.operators.itq import itq_train
    from flechasdb_spark.plans.ivfbq import (
        build_itq_ivfbq,
        itq_ivfbq_query,
        itq_ivfbq_query_batch,
        load_itq_ivfbq,
        save_itq_ivfbq,
    )

    itq = itq_train(emb, bits=16, iters=8, sample_n=10_000)
    cent = emb.where(F.col("vec_id") < P).select(
        F.col("vec_id").cast("int").alias("partition_id"),
        F.col("embedding").alias("centroid"),
    )
    m = build_itq_ivfbq(emb, cent, itq)
    qids = [2, 9, 17]
    qs = [
        [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(qids)).orderBy("vec_id").collect()
    ]
    for cc in (True, False):
        batch = itq_ivfbq_query_batch(
            m, qs, k=5, nprobe=3, query_ids=qids, collect_centroids=cc
        ).collect()
        got = {
            (r.query_id, r.rank): (r.vec_id, r.hamming_distance)
            for r in batch
        }
        for qid, qv in zip(qids, qs):
            solo = itq_ivfbq_query(m, qv, k=5, nprobe=3).collect()
            for i, s in enumerate(solo, start=1):
                assert got[(qid, i)] == (s.vec_id, s.hamming_distance), (qid, i)
    path = str(tmp_path / "itq_batch_idx")
    save_itq_ivfbq(m, path)
    loaded = load_itq_ivfbq(spark, path)
    plan = (
        itq_ivfbq_query_batch(loaded, qs, k=5, nprobe=3, query_ids=qids)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [partition_id" in plan.replace("\n", " ")


def test_range_batch_matches_solo_and_refines(spark, emb, model):
    """Batch radius == Q solo radius queries (both phase-1 modes);
    limit_per_query caps each query's nearest matches; the refine
    form equals the solo refine per query."""
    from flechasdb_spark.plans.ivfbq import ivfbq_range_query_batch

    qids = [2, 9, 17]
    qs = [
        [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(qids)).orderBy("vec_id").collect()
    ]
    for cc in (True, False):
        batch = ivfbq_range_query_batch(
            model, qs, radius=26, nprobe=3, query_ids=qids,
            collect_centroids=cc,
        ).collect()
        got = {
            qid: sorted(
                (r.hamming_distance, r.vec_id)
                for r in batch
                if r.query_id == qid
            )
            for qid in qids
        }
        for qid, qv in zip(qids, qs):
            solo = ivfbq_range_query(model, qv, radius=26, nprobe=3).collect()
            assert got[qid] == sorted(
                (r.hamming_distance, r.vec_id) for r in solo
            ), qid
    lim = ivfbq_range_query_batch(
        model, qs, radius=26, nprobe=3, query_ids=qids, limit_per_query=3
    ).collect()
    for qid, qv in zip(qids, qs):
        want = [
            (r.hamming_distance, r.vec_id)
            for r in ivfbq_range_query(
                model, qv, radius=26, nprobe=3, limit=3
            ).collect()
        ]
        rows = sorted(
            (r.rank, r.hamming_distance, r.vec_id)
            for r in lim
            if r.query_id == qid
        )
        assert [(h, v) for _, h, v in rows] == want, qid
    rr = ivfbq_range_query_batch(
        model, qs, radius=26, nprobe=3, query_ids=qids,
        rerank=emb, exact_radius=30.0, round_to=4,
    ).collect()
    for qid, qv in zip(qids, qs):
        want = sorted(
            (r.squared_distance, r.vec_id)
            for r in ivfbq_range_query(
                model, qv, radius=26, nprobe=3, rerank=emb,
                exact_radius=30.0, round_to=4,
            ).collect()
        )
        assert sorted(
            (r.squared_distance, r.vec_id) for r in rr if r.query_id == qid
        ) == want, qid
    with pytest.raises(ValueError, match="exact_radius"):
        ivfbq_range_query_batch(
            model, qs, radius=26, nprobe=3, query_ids=qids, rerank=emb
        )


def test_asymmetric_batch_and_range(spark, emb, model):
    """r12 asymmetric-ladder completion: the join-form scorer
    (one codegen aggregate, O(1) plan nodes for any Q) equals the
    solo literal-unroll scorer value-for-value — batch == Q solo
    queries in both phase-1 modes; the asymmetric radius equals the
    flat asymmetric rank filtered at the radius under full probe."""
    from flechasdb_spark.operators.bq import bq_encode, hamming_asymmetric_knn
    from flechasdb_spark.plans.ivfbq import (
        ivfbq_asymmetric_query,
        ivfbq_asymmetric_query_batch,
        ivfbq_asymmetric_range_query,
    )

    qids = [2, 9, 17]
    qs = [
        [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(qids)).orderBy("vec_id").collect()
    ]
    for cc in (True, False):
        batch = ivfbq_asymmetric_query_batch(
            model, qs, k=5, nprobe=3, query_ids=qids, collect_centroids=cc
        ).collect()
        got = {
            (r.query_id, r.rank): (r.vec_id, r.asym_micro) for r in batch
        }
        for qid, qv in zip(qids, qs):
            solo = ivfbq_asymmetric_query(model, qv, k=5, nprobe=3).collect()
            for i, s in enumerate(solo, start=1):
                assert got[(qid, i)] == (s.vec_id, s.asym_micro), (qid, i)
    # asymmetric radius, full probe == flat asymmetric filtered
    qv = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    flat = hamming_asymmetric_knn(
        bq_encode(emb, dim=DIM), qv, k=emb.count()
    ).collect()
    radius = sorted(r.asym_micro for r in flat)[15]
    want = sorted(
        (r.asym_micro, r.vec_id) for r in flat if r.asym_micro <= radius
    )
    rng = ivfbq_asymmetric_range_query(
        model, qv, radius_micro=radius, nprobe=P
    ).collect()
    assert [(r.asym_micro, r.vec_id) for r in rng] == want
    lim = ivfbq_asymmetric_range_query(
        model, qv, radius_micro=radius, nprobe=P, limit=4
    ).collect()
    assert [(r.asym_micro, r.vec_id) for r in lim] == want[:4]


def test_merge_ivfbq_shards(spark, emb, model):
    """Shard-build parity (r12): two disjoint shards built with the
    SAME frozen model merge into an index identical to the
    whole-corpus build (pure union — codes comparable by
    construction); overlap resolves by `prefer`; incompatible frozen
    state (width, thresholds, ITQ rotation) refuses loudly."""
    from flechasdb_spark.operators.itq import itq_train
    from flechasdb_spark.plans.ivfbq import (
        build_itq_ivfbq,
        merge_itq_ivfbq,
        merge_ivfbq,
    )

    cent = emb.where(F.col("vec_id") < P).select(
        F.col("vec_id").cast("int").alias("partition_id"),
        F.col("embedding").alias("centroid"),
    )
    a = build_ivfbq(emb.where(F.col("vec_id") % 2 == 0), cent, dim=DIM)
    b = build_ivfbq(emb.where(F.col("vec_id") % 2 == 1), cent, dim=DIM)
    merged = merge_ivfbq(a, b, assume_disjoint=True)
    whole = {
        r.vec_id: (r.partition_id, list(r.words))
        for r in model.encoded.collect()
    }
    got = {
        r.vec_id: (r.partition_id, list(r.words))
        for r in merged.encoded.collect()
    }
    assert got == whole
    # overlap: prefer='other' keeps the second shard's row; the
    # merged universe is evens UNION [0, 50)
    ov = build_ivfbq(emb.where(F.col("vec_id") < 50), cent, dim=DIM)
    m2 = merge_ivfbq(a, ov)  # ids 0,2,..,48 overlap
    evens = {i for i in whole if i % 2 == 0}
    assert {r.vec_id for r in m2.encoded.select("vec_id").collect()} == (
        evens | {i for i in whole if i < 50}
    )
    # incompatibilities refuse loudly
    with pytest.raises(ValueError, match="code width"):
        merge_ivfbq(a, build_ivfbq(emb, cent, dim=32))
    with pytest.raises(ValueError, match="thresholds differ"):
        merge_ivfbq(a, build_ivfbq(emb, cent, dim=DIM, thresholds=[0.1] * DIM))
    itq1 = itq_train(emb, bits=8, iters=4, sample_n=5_000)
    itq2 = itq_train(emb, bits=8, iters=4, sample_n=5_000, seed=9)
    ia = build_itq_ivfbq(emb.where(F.col("vec_id") % 2 == 0), cent, itq1)
    ib = build_itq_ivfbq(emb.where(F.col("vec_id") % 2 == 1), cent, itq1)
    im = merge_itq_ivfbq(ia, ib, assume_disjoint=True)
    iw = build_itq_ivfbq(emb, cent, itq1)
    assert {
        r.vec_id: (r.partition_id, list(r.words))
        for r in im.encoded.collect()
    } == {
        r.vec_id: (r.partition_id, list(r.words))
        for r in iw.encoded.collect()
    }
    with pytest.raises(ValueError, match="rotations differ"):
        merge_itq_ivfbq(
            ia, build_itq_ivfbq(emb.where(F.col("vec_id") % 2 == 1), cent, itq2)
        )


def _bq_entry_points(model, itq_model, qv, qs, cc=True, nprobe=3):
    """Every public IVF+BQ serving call on one query (solo forms) or
    one batch, by name."""
    from flechasdb_spark.plans.ivfbq import (
        itq_ivfbq_query,
        itq_ivfbq_query_batch,
        itq_ivfbq_range_query,
        ivfbq_asymmetric_query,
        ivfbq_asymmetric_query_batch,
        ivfbq_asymmetric_range_query,
        ivfbq_range_query_batch,
    )

    return {
        "ivfbq_query": lambda: ivfbq_query(model, qv, k=5, nprobe=nprobe),
        "ivfbq_range_query": lambda: ivfbq_range_query(
            model, qv, radius=26, nprobe=nprobe
        ),
        "ivfbq_query_batch": lambda: ivfbq_query_batch(
            model, qs, k=5, nprobe=nprobe, collect_centroids=cc
        ),
        "ivfbq_range_query_batch": lambda: ivfbq_range_query_batch(
            model, qs, radius=26, nprobe=nprobe, collect_centroids=cc
        ),
        "itq_ivfbq_query": lambda: itq_ivfbq_query(
            itq_model, qv, k=5, nprobe=nprobe
        ),
        "itq_ivfbq_range_query": lambda: itq_ivfbq_range_query(
            itq_model, qv, radius=5, nprobe=nprobe
        ),
        "itq_ivfbq_query_batch": lambda: itq_ivfbq_query_batch(
            itq_model, qs, k=5, nprobe=nprobe, collect_centroids=cc
        ),
        "ivfbq_asymmetric_query": lambda: ivfbq_asymmetric_query(
            model, qv, k=5, nprobe=nprobe
        ),
        "ivfbq_asymmetric_range_query": lambda: ivfbq_asymmetric_range_query(
            model, qv, radius_micro=9_000_000, nprobe=nprobe
        ),
        "ivfbq_asymmetric_query_batch": lambda: ivfbq_asymmetric_query_batch(
            model, qs, k=5, nprobe=nprobe, collect_centroids=cc
        ),
    }


@pytest.fixture(scope="module")
def itq_model(spark, emb):
    from flechasdb_spark.operators.itq import itq_train
    from flechasdb_spark.plans.ivfbq import build_itq_ivfbq

    cent = emb.where(F.col("vec_id") < P).select(
        F.col("vec_id").cast("int").alias("partition_id"),
        F.col("embedding").alias("centroid"),
    )
    itq = itq_train(emb, bits=16, iters=8, sample_n=10_000)
    return build_itq_ivfbq(emb, cent, itq)


@pytest.mark.parametrize("width", [61, 66])
def test_query_width_mismatch_raises(spark, emb, model, itq_model, width):
    """A query narrower or wider than the index (dim 64) raises
    ValueError at plan construction — never rows scored against a
    truncated or null-padded query, nor an executor-side
    ArrayIndexOutOfBoundsException — on all ten entry points, with the
    batch forms in both probe-selection modes."""
    row = emb.where(F.col("vec_id") == 3).first()
    qv = ([float(x) for x in row["embedding"]] * 2)[:width]
    qs = [qv, qv]
    for cc in (True, False):
        calls = _bq_entry_points(model, itq_model, qv, qs, cc)
        assert len(calls) == 10
        for call in calls.values():
            with pytest.raises(ValueError, match="width"):
                call()


def test_serving_plans_ship_no_pickled_tables(spark, emb, model, itq_model, tmp_path):
    """Every probe and query table of BQ serving is an Arrow
    LocalRelation: the executed plan reads a LocalTableScan and no
    pickled RDD (Scan ExistingRDD, whose broadcast starts Python
    workers), and the literal probe cut stays in the Parquet
    PartitionFilters of a loaded index."""
    from flechasdb_spark.plans.ivfbq import (
        itq_ivfbq_query_batch,
        ivfbq_asymmetric_query_batch,
        ivfbq_asymmetric_range_query,
        ivfbq_range_query_batch,
        load_itq_ivfbq,
        save_itq_ivfbq,
    )

    save_ivfbq(model, str(tmp_path / "bq"))
    save_itq_ivfbq(itq_model, str(tmp_path / "itq"))
    m = load_ivfbq(spark, str(tmp_path / "bq"))
    im = load_itq_ivfbq(spark, str(tmp_path / "itq"))
    qs = [
        [float(x) for x in r.embedding]
        for r in emb.where(F.col("vec_id").isin(2, 9, 17)).orderBy("vec_id").collect()
    ]
    calls = {
        "ivfbq_query_batch": ivfbq_query_batch(m, qs, k=5, nprobe=3),
        "ivfbq_query_batch+rerank": ivfbq_query_batch(
            m, qs, k=5, nprobe=3, rerank=emb, round_to=4
        ),
        "ivfbq_range_query_batch+rerank": ivfbq_range_query_batch(
            m, qs, radius=26, nprobe=3, rerank=emb, exact_radius=30.0
        ),
        "itq_ivfbq_query_batch": itq_ivfbq_query_batch(im, qs, k=5, nprobe=3),
        "ivfbq_asymmetric_query_batch": ivfbq_asymmetric_query_batch(
            m, qs, k=5, nprobe=3
        ),
        "ivfbq_asymmetric_range_query": ivfbq_asymmetric_range_query(
            m, qs[0], radius_micro=9_000_000, nprobe=3
        ),
    }
    for name, df in calls.items():
        assert df.count() > 0, name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)
        assert "PartitionFilters: [partition_id" in plan.replace("\n", " "), (
            name,
            plan,
        )


def test_batch_empty_queries(spark, emb, model, itq_model):
    """An empty batch is a legal call on all four batch forms: no rows,
    with exactly the contract schema of the non-empty path (the rerank
    score, and ``rank`` iff the path ranks). Probing no cells
    (nprobe=0) likewise scans nothing and returns no rows, solo and
    batch."""
    from flechasdb_spark.plans.ivfbq import (
        itq_ivfbq_query_batch,
        ivfbq_asymmetric_query_batch,
        ivfbq_range_query_batch,
    )

    def schema(df):
        assert df.count() == 0
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    head = [("query_id", "bigint"), ("vec_id", "bigint")]
    ham, sq = ("hamming_distance", "int"), ("squared_distance", "double")
    rank = [("rank", "int")]
    assert schema(ivfbq_query_batch(model, [], k=5, nprobe=2)) == [
        *head, ham, *rank
    ]
    assert schema(
        ivfbq_query_batch(model, [], k=5, nprobe=2, rerank=emb)
    ) == [*head, sq, *rank]
    for lim in (None, 3):
        tail = rank if lim is not None else []
        assert schema(
            ivfbq_range_query_batch(
                model, [], radius=20, nprobe=2, limit_per_query=lim
            )
        ) == [*head, ham, *tail]
        assert schema(
            ivfbq_range_query_batch(
                model, [], radius=20, nprobe=2, limit_per_query=lim,
                rerank=emb, exact_radius=30.0,
            )
        ) == [*head, sq, *tail]
    assert schema(itq_ivfbq_query_batch(itq_model, [], k=5, nprobe=2)) == [
        *head, ham, *rank
    ]
    assert schema(
        ivfbq_asymmetric_query_batch(model, [], k=5, nprobe=2)
    ) == [*head, ("asym_micro", "bigint"), *rank]

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    for cc in (True, False):
        calls = _bq_entry_points(model, itq_model, qv, [qv, qv], cc, nprobe=0)
        for name, call in calls.items():
            assert call().count() == 0, (name, cc)
