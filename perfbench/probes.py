"""Measurements taken from outside the library: py4j round-trips, Spark
job and stage records from the JVM status store, process-tree peak RSS,
and the host stamp written on every run record."""

from __future__ import annotations

import json
import os
import platform
import threading
import time

import numpy as np

from ledger import interval_union, median

# Stage fields summed per request, as (status-store field, ledger name,
# scale). Times arrive in ms.
STAGE_FIELDS = (
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("inputRecords", "input_rows", 1),
    ("executorRunTime", "executor_run_s", 1e-3),
    ("jvmGcTime", "gc_s", 1e-3),
)
RSS_INTERVAL_S = 0.25
CANARY_N = 768
CANARY_REPS = 5


class Py4jCounter:
    """Counts py4j commands sent from this process while ``active``."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        self.calls = 0
        self.active = False

        def counting_send(*args, **kwargs):
            if self.active:
                self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send


class JobLedger:
    """Per-request Spark work, read from the JVM ``AppStatusStore`` after
    the request ends (the UI stays off)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        jvm = self.sc._jvm
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        )
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj) -> dict:
        return json.loads(self.mapper.writeValueAsString(obj))

    def request(self, group: str, start: float, end: float) -> dict:
        """Jobs of ``group`` and the totals of the stages they ran.
        ``job_busy_s`` is the union of job intervals inside the request
        window, so overlapping jobs count once."""
        self.bus.waitUntilEmpty()
        jobs, seen = [], set()
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        out.update({name: 0.0 for _, name, _ in STAGE_FIELDS})
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = self._json(self.store.job(jid))
            sub, done = job.get("submissionTime"), job.get("completionTime")
            jobs.append(
                {
                    "job_id": jid,
                    "start": sub / 1000.0 if sub else start,
                    "end": done / 1000.0 if done else end,
                    "status": job["status"],
                }
            )
            out["jobs"] += 1
            out["stages"] += job["numCompletedStages"] + job["numFailedStages"]
            out["tasks"] += job["numCompletedTasks"] + job["numFailedTasks"]
            for sid in job["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                stage = self._json(self.store.lastStageAttempt(sid))
                if stage["status"] == "SKIPPED":
                    continue
                for field, name, scale in STAGE_FIELDS:
                    out[name] += stage.get(field, 0) * scale
        out["job_busy_s"] = interval_union(
            ((j["start"], j["end"]) for j in jobs), lo=start, hi=end
        )
        out["job_busy_unclipped_s"] = interval_union(
            (j["start"], j["end"]) for j in jobs
        )
        out["job_spans"] = jobs
        return out


def _tree_pids(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree.extend(frontier)
    return tree


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (JVM and
    Python workers), sampled from /proc on a background thread."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in _tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_canary() -> float:
    """Median GFLOPS of a CANARY_N x CANARY_N float64 matmul: a
    host-speed stamp."""
    a = np.random.default_rng(0).standard_normal((CANARY_N, CANARY_N))
    ts = []
    for _ in range(CANARY_REPS):
        t0 = time.perf_counter()
        a @ a
        ts.append(time.perf_counter() - t0)
    return 2.0 * CANARY_N**3 / median(ts) / 1e9


def host_stamp(spark_conf: dict) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": np.__version__,
        "spark_conf": spark_conf,
        "graft_env": {
            k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT")
        },
    }


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, regular files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def file_versions(path: str) -> dict:
    """{file path: (size, mtime_ns, inode)} under ``path``."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or changed between two snapshots."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)
