"""The two closed-loop workloads over the IVF+PQ lifecycle, timed from
outside the library.

One client, one request at a time: each request blocks on its Spark
action before the next starts. Every workload first sets up the program
once (build_index, save_index, load_index, one warm-up query) and
reports that wall time as ``setup_s``. The set-up runs in the run's cold
JVM: a second set-up in the same process takes a third to half as long,
but would add 7-10 s to each of the benchmark's 48 runs, which must fit
one hour together.

- ``serve-point``: single-query requests (Q=1, k=10, nprobe=4) against
  the store opened with load_index; every 4th request filters on
  ``label``. The request is one ``ann_query(...).collect()``.
  WARMUP_REQUESTS untimed requests of the same mix precede the window.
- ``ingest-sweep``: writes beside reads. The request is one cycle: a
  1k-row upsert_vectors (half replaced ids, half new), a 200-id
  delete_vectors, a fresh load_index, then one auto_nprobe sweep of a
  100-query sample over the nested arms nprobe 1, 4 and 16 against the
  store just written. On a 4-core host a cycle outlasts a 10 s window,
  so an untraced run of that length times exactly one cycle, the first
  after set-up: ``request_p50_s`` is then one sample, not a median.

After the timed loop, both read RECALL_QUERIES fresh queries at nprobe=4
in one untimed batch from the store as the loop left it; that batch
gives ``recall_at_10`` from enough pairs to be steady.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import numpy as np

from flechasdb_spark.operators.build import IndexConfig, build_index
from flechasdb_spark.operators.eval import auto_nprobe
from flechasdb_spark.operators.maintenance import delete_vectors, upsert_vectors
from flechasdb_spark.plans.ivf import ann_query
from flechasdb_spark.sources.manifest import load_index, save_index

from corpus import SCHEMA, Corpus
from ledger import Tracer, median
from probes import (
    JobLedger,
    Py4jCounter,
    bytes_written,
    file_versions,
    tree_bytes,
)

NUM_VECTORS = 20_000
CONFIG = dict(
    # P=32 rather than the 64-cell smoke shape: each set-up and each
    # maintenance rewrite costs per cell, and the set-ups bound how many
    # runs fit the benchmark's time budget; nprobe=4 keeps the probed
    # share at 1/8
    num_partitions=32,
    num_divisions=16,
    num_codes=64,
    # training knobs sized so one set-up takes seconds, not minutes
    max_iter=20,
    max_points_per_centroid=64,
)
K = 10
NPROBE = 4
POOL = 128
RECALL_QUERIES = 1024
# untimed serve-point requests between set-up and the window: without
# them the first requests of the window still run partly cold code, and
# the run-to-run spread of request_p50_s nearly doubles; the fourth is
# filtered, so both query paths are warm
WARMUP_REQUESTS = 4
FILTER_EVERY = 4
SWEEP_QUERIES = 100
ARMS = (1, NPROBE, 16)
# PQ-only scoring never reaches exact recall, so every arm runs and the
# whole curve is checked against the benchmark's own recall
TARGET_RECALL = 1.0
UPSERT_ROWS = 1000
DELETE_ROWS = 200

WORKLOADS = ("serve-point", "ingest-sweep")
OPS = ("setup", "query", "upsert", "delete", "sweep")
SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "job_busy_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_rows",
    "executor_run_s",
    "gc_s",
)


class CheckFailed(Exception):
    pass


def check_ranked(rows, k, qids, alive, labels=None, want_label=None) -> dict:
    """Group result rows by query and verify each query's list: every
    query answered, ranks 1..k, non-decreasing distance, only live ids,
    and the filter's label when one was given. Returns {query_id:
    [vector ids by rank]}."""
    by_q = defaultdict(list)
    for r in rows:
        by_q[int(r.query_id)].append(r)
    if sorted(by_q) != sorted(qids):
        raise CheckFailed(f"answered queries {sorted(by_q)} != asked {sorted(qids)}")
    out = {}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        if [r.rank for r in rs] != list(range(1, k + 1)):
            raise CheckFailed(f"query {qid}: ranks {[r.rank for r in rs]}")
        dist = [r.squared_distance for r in rs]
        if any(b < a for a, b in zip(dist, dist[1:])):
            raise CheckFailed(f"query {qid}: distances not sorted")
        ids = [int(r.vector_id) for r in rs]
        dead = [i for i in ids if i >= len(alive) or not alive[i]]
        if dead:
            raise CheckFailed(f"query {qid}: deleted ids returned {dead}")
        if want_label is not None:
            bad = [i for i in ids if labels[i] != want_label]
            if bad:
                raise CheckFailed(f"query {qid}: filter violated by {bad}")
        out[qid] = ids
    return out


def recall(found: dict, truth: np.ndarray, qids) -> float:
    hits = [len(set(found.get(q, [])) & set(truth[i].tolist())) for i, q in enumerate(qids)]
    return float(np.mean(hits)) / truth.shape[1]


class Bench:
    def __init__(self, spark, workdir: str, seed: int, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = os.path.join(workdir, "store")
        self.trace = trace
        self.tracer = Tracer(False)
        self.py4j = Py4jCounter(spark) if trace else None
        self.jobs = JobLedger(spark) if trace else None
        self.corpus = Corpus(seed, NUM_VECTORS)
        self.cfg = IndexConfig(**CONFIG)
        self.requests: list[dict] = []
        self.walls = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer = defaultdict(list)
        self.extra: dict = {}
        self._seq = 0

    # -- one request ------------------------------------------------------
    def op(self, op: str, fn, check=None):
        """Run ``fn`` as one request. When tracing is on, the request gets
        its own Spark job group, a request span and a py4j count; its
        jobs are read back from the status store after it ends. ``check``
        validates the result outside the timed region. Returns (ok,
        result)."""
        self.attempted += 1
        rid = f"{op}-{self._seq}"
        self._seq += 1
        traced = self.tracer.enabled
        self.tracer.request = rid
        if traced:
            self.sc.setJobGroup(rid, op)
            self.py4j.calls, self.py4j.active = 0, True
        start = time.time()
        t0 = time.perf_counter()
        err = None
        try:
            with self.tracer.span("request", op=op) as sid:
                result = fn()
        except Exception as e:  # a failed request is counted, not fatal
            err, result = f"{op} raised {e!r}"[:500], None
        wall = time.perf_counter() - t0
        end = time.time()
        rec = {"id": rid, "op": op, "wall_s": wall, "traced": traced}
        if traced:
            self.py4j.active = False
            self.sc._jsc.clearJobGroup()
            rec["py4j_calls"] = self.py4j.calls
            led = self.jobs.request(rid, start, end)
            for j in led.pop("job_spans"):
                self.tracer.add(
                    "spark.job",
                    j["start"],
                    j["end"],
                    parent=self.tracer.innermost(rid, j["start"], root=sid),
                    job_id=j["job_id"],
                )
            rec.update(led)
            rec["driver_outside_jobs_s"] = wall - led["job_busy_s"]
            if led["job_busy_unclipped_s"] > wall + 0.005:
                err = err or f"{rid}: job_busy {led['job_busy_unclipped_s']:.3f} s > wall {wall:.3f} s"
        if err is None and check is not None:
            try:
                check(result)
            except CheckFailed as e:
                err = f"{rid}: {e}"
        self.tracer.request = None
        rec["ok"] = err is None
        self.requests.append(rec)
        if err is not None:
            self.failed += 1
            self.failures.append(err)
            return False, result
        self.walls[op].append(wall)
        return True, result

    def on_event(self, layer: str):
        """A library ``on_event(stage, seconds)`` hook that records each
        stage as a ``<layer>.<stage>`` span ending now; None (no hook)
        when tracing is off."""
        if not self.tracer.enabled:
            return None

        def record(stage: str, seconds: float) -> None:
            now = time.time()
            self.tracer.add(f"{layer}.{stage}", now - seconds, now)

        return record

    def query(self, model, q, qids, nprobe, where=None):
        """ann_query(...).collect() with plan and execute spans."""
        with self.tracer.span("ivf.call"):
            df = ann_query(
                model, q, K, nprobe, query_ids=qids, where=where,
                on_event=self.on_event("ivf"),
            )
        with self.tracer.span("ivf.execute"):
            return df.collect()

    # -- set-up -----------------------------------------------------------
    def setup(self, df, warm_q):
        """One full set-up; returns the loaded store."""
        built = {}

        def once():
            with self.tracer.span("build"):
                built["model"] = build_index(df, self.cfg, on_event=self.on_event("build"))
            with self.tracer.span("manifest.save"):
                save_index(built["model"], self.store)
            with self.tracer.span("manifest.load"):
                model = load_index(self.spark, self.store)
            rows = self.query(model, warm_q, [0], NPROBE)
            return model, rows

        ok, out = self.op(
            "setup",
            once,
            check=lambda out: check_ranked(out[1], K, [0], self.corpus.alive),
        )
        if "model" in built:
            built["model"].encoded.unpersist()
        if not ok:
            raise RuntimeError(self.failures[-1])
        return out[0]

    def recall_pass(self, model, queries) -> float:
        """recall_at_10 at NPROBE of ``queries`` against the live set,
        read in one untimed batch."""
        c = self.corpus
        truth = c.exact_topk(queries, K)
        qids = list(range(len(queries)))
        found = {}
        self.op(
            "recall",
            lambda: self.query(model, queries, qids, NPROBE),
            check=lambda rows: found.update(check_ranked(rows, K, qids, c.alive)),
        )
        return recall(found, truth, qids) if found else 0.0

    # -- workloads --------------------------------------------------------
    def another(self, deadline: float, done: int, last_s: float) -> bool:
        """Whether the closed loop starts another request: only while a
        request as long as the last one would still end inside the
        measuring window, and always at least one (three in traced runs:
        untraced, traced, untraced, so the overhead compares a traced
        request with an untraced one that is not the first)."""
        if done < (3 if self.trace else 1):
            return True
        return time.perf_counter() + last_s <= deadline

    def serve_point(self, seconds: float) -> dict:
        c = self.corpus
        pool = c.queries(POOL)
        pool_labels = c.query_labels(POOL)
        truth = c.exact_topk(pool, K)
        truth_f = c.exact_topk(pool, K, labels=pool_labels)
        recall_q = c.queries(RECALL_QUERIES)
        df = self.spark.createDataFrame(c.frame(), SCHEMA)
        self.tracer.enabled = self.trace
        model = self.setup(df, pool[:1])
        recalls = []

        def serve(n: int, op: str) -> None:
            """Request number ``n``: pool query n, filtered every
            FILTER_EVERY-th request."""
            q = n % POOL
            filtered = n % FILTER_EVERY == FILTER_EVERY - 1
            want = int(pool_labels[q]) if filtered else None
            where = f"label = {want}" if filtered else None
            found = {}

            def check(rows):
                found.update(check_ranked(rows, K, [q], c.alive, c.labels, want))

            ok, _ = self.op(
                op,
                lambda: self.query(model, pool[q : q + 1], [q], NPROBE, where=where),
                check=check,
            )
            if ok and op == "query":
                recalls.append(recall(found, (truth_f if filtered else truth)[q : q + 1], [q]))
                self.requests[-1]["request_wall_s"] = self.walls["query"][-1]

        self.tracer.enabled = False
        for n in range(WARMUP_REQUESTS):
            serve(n, "warmup")
        i = 0
        deadline = time.perf_counter() + seconds
        while True:
            # traced runs alternate untraced and traced requests, so the
            # run also measures the tracing overhead
            self.tracer.enabled = self.trace and i % 2 == 1
            serve(WARMUP_REQUESTS + i, "query")
            i += 1
            if not self.another(deadline, i, self.requests[-1]["wall_s"]):
                break
        self.tracer.enabled = False
        self.extra["served_recall_at_10"] = float(np.mean(recalls)) if recalls else 0.0
        return {
            "request_walls": self.walls["query"],
            "queries": len(recalls),
            "recall_at_10": self.recall_pass(model, recall_q),
        }

    def ingest_sweep(self, seconds: float) -> dict:
        c = self.corpus
        sample = c.queries(SWEEP_QUERIES)
        qids = list(range(SWEEP_QUERIES))
        recall_q = c.queries(RECALL_QUERIES)
        df = self.spark.createDataFrame(c.frame(), SCHEMA)
        self.tracer.enabled = self.trace
        model = self.setup(df, sample[:1])
        cycle_walls, answered = [], 0
        written = mutated = 0
        i = 0
        deadline = time.perf_counter() + seconds
        while True:
            self.tracer.enabled = self.trace and i % 2 == 1
            n_req = len(self.requests)
            m = c.mutation(UPSERT_ROWS, DELETE_ROWS)
            up_df = self.spark.createDataFrame(c.upsert_frame(m), SCHEMA)

            before = file_versions(self.store)
            ok_u, touched = self.op(
                "upsert", lambda: upsert_vectors(self.spark, model, self.store, up_df)
            )
            if not ok_u:
                break
            c.apply_upsert(m)
            ok_d, deleted_from = self.op(
                "delete",
                lambda: delete_vectors(self.spark, model, self.store, m["delete"].tolist()),
            )
            if not ok_d:
                break
            c.apply_delete(m)
            written += bytes_written(before, file_versions(self.store))
            mutated += UPSERT_ROWS + DELETE_ROWS
            self.layer["maintenance.cells_rewritten.upsert"].append(len(touched))
            self.layer["maintenance.cells_rewritten.delete"].append(len(deleted_from))

            def check_count(mdl):
                if mdl.num_vectors != c.live:
                    raise CheckFailed(f"manifest num_vectors {mdl.num_vectors} != live {c.live}")

            ok_l, loaded = self.op(
                "load", lambda: load_index(self.spark, self.store), check=check_count
            )
            if not ok_l:
                break
            model = loaded

            truth = c.exact_topk(sample, K)
            exact = self.spark.createDataFrame(
                [(q, int(v)) for q in qids for v in truth[q]], "query_id long, vec_id long"
            )
            arm_rows = {}
            arm = {"sid": None}

            def search(nprobe):
                self.tracer.close(arm["sid"])
                arm["sid"] = self.tracer.open("eval.arm", nprobe=nprobe)
                rows = self.query(model, sample, qids, nprobe)
                arm_rows[nprobe] = rows
                return self.spark.createDataFrame(
                    [(int(r.query_id), int(r.vector_id)) for r in rows],
                    "query_id long, vec_id long",
                )

            def sweep():
                try:
                    return auto_nprobe(exact, search, ARMS, TARGET_RECALL)
                finally:
                    self.tracer.close(arm["sid"])

            arm_recall = {}

            def check_sweep(out):
                chosen, curve = out
                arms = [a for a, _ in curve]
                if arms != sorted(ARMS)[: len(arms)]:
                    raise CheckFailed(f"arms {arms} are not a prefix of {ARMS}")
                for a, r in curve:
                    found = check_ranked(arm_rows[a], K, qids, c.alive)
                    arm_recall[a] = recall(found, truth, qids)
                    if abs(arm_recall[a] - r) > 1e-6:
                        raise CheckFailed(f"arm {a}: curve recall {r} != measured {arm_recall[a]}")
                met = [a for a, r in curve if r >= TARGET_RECALL]
                if chosen is None:
                    if met or len(curve) != len(ARMS):
                        raise CheckFailed(f"no arm chosen but curve {curve}")
                elif met != [chosen] or arms[-1] != chosen:
                    raise CheckFailed(f"chose {chosen} from curve {curve}")

            ok_s, out = self.op("sweep", sweep, check=check_sweep)
            if not ok_s:
                break
            self.layer["eval.arms"].append(len(out[1]))
            answered += SWEEP_QUERIES * len(out[1])
            cycle_walls.append(sum(r["wall_s"] for r in self.requests[n_req:]))
            self.requests[-1]["request_wall_s"] = cycle_walls[-1]
            self.extra.setdefault("recall_curves", []).append(
                [[a, arm_recall[a]] for a in sorted(arm_recall)]
            )
            i += 1
            if not self.another(deadline, i, cycle_walls[-1]):
                break
        self.tracer.enabled = False
        if mutated:
            self.layer["maintenance.bytes_written_per_row"].append(written / mutated)
        return {
            "request_walls": cycle_walls,
            "queries": answered,
            "recall_at_10": self.recall_pass(model, recall_q),
        }

    # -- report -----------------------------------------------------------
    def end_to_end(self, res: dict) -> dict:
        """Every end-to-end metric but peak_rss_mb, which the caller
        measures around the whole run."""
        walls = res["request_walls"]
        store_bytes, _ = tree_bytes(self.store)
        return {
            "setup_s": self.walls["setup"][0],
            "request_p50_s": median(walls) if walls else 0.0,
            "queries_per_s": res["queries"] / sum(walls) if walls else 0.0,
            "recall_at_10": res["recall_at_10"],
            "store_bytes_per_vector": store_bytes / max(1, self.corpus.live),
        }

    def per_layer(self) -> dict:
        tr = self.tracer
        traced = [r for r in self.requests if r["traced"] and r["ok"]]
        out = {}
        for op in OPS:
            recs = [r for r in traced if r["op"] == op]
            for f in SPARK_FIELDS:
                out[f"spark.{f}.{op}"] = median([r[f] for r in recs]) if recs else 0
            out[f"driver.outside_jobs_s.{op}"] = (
                median([r["driver_outside_jobs_s"] for r in recs]) if recs else 0
            )
            out[f"py4j.calls.{op}"] = median([r["py4j_calls"] for r in recs]) if recs else 0

        def span_p50(name):
            # the warm-up query inside set-up is not a workload request
            skip = None if name.startswith(("build", "manifest")) else "setup"
            d = tr.durations(name, skip_request_prefix=skip)
            return median(d) if d else 0

        for stage in ("select_probes", "adc_tables", "plan_built"):
            key = "plan" if stage == "plan_built" else stage
            out[f"ivf.{key}_s"] = span_p50(f"ivf.{stage}")
        out["ivf.execute_s"] = span_p50("ivf.execute")
        queries = [r for r in traced if r["op"] == "query"]
        sweeps = [r for r in traced if r["op"] == "sweep"]
        arms = median(self.layer["eval.arms"]) if self.layer["eval.arms"] else 0
        if queries:
            scanned = median([r["input_rows"] for r in queries]) / K
        elif sweeps:
            scanned = median([r["input_rows"] for r in sweeps]) / (arms * SWEEP_QUERIES * K)
        else:
            scanned = 0
        out["ivf.rows_scanned_per_result"] = scanned
        out["eval.arms"] = arms
        out["eval.rows_scanned"] = median([r["input_rows"] for r in sweeps]) if sweeps else 0
        out["eval.arm_s"] = span_p50("eval.arm")
        for stage in ("sample", "train", "encode"):
            out[f"build.{stage}_s"] = span_p50(f"build.{stage}")
        build = span_p50("build")
        out["build.vectors_per_s"] = NUM_VECTORS / build if build else 0
        out["manifest.save_s"] = span_p50("manifest.save")
        loads = tr.durations("manifest.load") + [
            r["wall_s"] for r in traced if r["op"] == "load"
        ]
        out["manifest.load_s"] = median(loads) if loads else 0
        store_bytes, store_files = tree_bytes(self.store)
        out["manifest.store_bytes"] = store_bytes
        for key in (
            "maintenance.cells_rewritten.upsert",
            "maintenance.cells_rewritten.delete",
            "maintenance.bytes_written_per_row",
        ):
            vals = self.layer[key]
            out[key] = median(vals) if vals else 0
        out["maintenance.store_files"] = store_files
        # the loop's first request is still warming up; leave it out
        top = [r for r in self.requests if "request_wall_s" in r][1:]
        on = [r["request_wall_s"] for r in top if r["traced"]]
        off = [r["request_wall_s"] for r in top if not r["traced"]]
        out["trace.overhead_pct"] = (
            (median(on) / median(off) - 1.0) * 100.0 if on and off else 0
        )
        return out
