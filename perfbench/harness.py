"""Run plumbing shared by every workload: environment pinning, the Spark
session, the span tracer, per-op Spark job counts, host context and input
fingerprints.

Nothing here changes the engine.  Tracing wraps public engine functions at
the module attributes their callers resolve, and only while a traced op runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shlex
import statistics
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Pinned parallelism; SPARK_GRAFT_CPUS (default 32) is deliberately not
# consulted.  One task thread and one partition: each task still keeps a
# JVM thread and a Python worker busy, and the JVM has threads of its own,
# so on a shared 4-vCPU host with CPU steal every extra task thread made op
# walls follow the host more.  With two threads and two partitions the
# append op ran 14-18% slower than with one in runs with 13-19% steal, and
# the same without steal; the bulk op ran the same either way.  Two
# partitions on one thread made the append op ~45% slower in a trial run.
THREADS = 1
MASTER = f"local[{THREADS}]"
DRIVER_MEM = "2g"


def pin_environment(work: str) -> None:
    """Point every scratch location of Spark, the JVM and the Python workers
    inside ``work`` and pin the driver heap.  Must run before the JVM starts."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.local.dir={os.path.join(work, 'local')}"),
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


def start_session():
    from sparrow_ipc_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=MASTER,
                      shuffle_partitions=THREADS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the first action launches the Python workers
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else None


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# Input fingerprints
# ---------------------------------------------------------------------------

def table_fingerprint(df) -> dict:
    """Row count plus an order-insensitive hash of every column, computed
    with plain Spark SQL (independent of the engine's own verify code)."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("rows")]
    for f in df.schema.fields:
        c = F.col(f.name)
        h = F.xxhash64(F.lit(f.name), c.cast("string"), F.isnull(c).cast("int"))
        aggs.append(F.sum(h.cast("decimal(38,0)")).alias(f.name))
    row = df.agg(*aggs).first().asDict()
    rows = int(row.pop("rows"))
    digest = hashlib.sha256(
        json.dumps({k: str(v) for k, v in sorted(row.items())}).encode()).hexdigest()
    return {"rows": rows, "hash": digest[:16]}


def canary_hash(seed: int, n_convs: int) -> str:
    """Hash of a small driver-side generator sample: any change to what the
    transcript generator emits for a given seed changes this value."""
    from sparrow_ipc_spark.sources.transcripts import GenContext

    batch = GenContext(seed).batch(range(n_convs))
    blob = json.dumps(batch.to_pydict(), default=str, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


class InputDrift(RuntimeError):
    """The generated input no longer matches the pinned fingerprint."""


def check_pins(pins: dict, scale: str, workload: str, seed: int,
               fingerprint: dict) -> bool:
    """Raise when the canary or this seed's pinned input fingerprint moved.
    Returns whether a per-seed pin existed for this run."""
    canary = pins["canary"]
    got = canary_hash(canary["seed"], canary["convs"])
    if got != canary["hash"]:
        raise InputDrift(
            f"generator canary hash {got} != pinned {canary['hash']}: "
            "sources/transcripts.py changed what it emits; the benchmark "
            "inputs are no longer the baseline's")
    pinned = pins["inputs"].get(scale, {}).get(workload, {}).get(str(seed))
    if pinned is None:
        return False
    if pinned != fingerprint:
        raise InputDrift(
            f"{workload} seed {seed}: input fingerprint {fingerprint} != "
            f"pinned {pinned}")
    return True


# ---------------------------------------------------------------------------
# Host context
# ---------------------------------------------------------------------------

def cpu_times() -> dict:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    keys = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(keys, vals))


def steal_pct(before: dict, after: dict) -> float:
    """Stolen CPU time as a share of user time over the interval."""
    user = (after["user"] + after["nice"]) - (before["user"] + before["nice"])
    return 100.0 * (after["steal"] - before["steal"]) / max(1, user)


def calib_ms(reps: int = 5) -> float:
    """Median wall of a fixed single-threaded numpy loop: a host-speed probe
    that involves none of the engine's code."""
    import numpy as np

    walls = []
    for _ in range(reps):
        a = np.arange(1_000_000, dtype=np.int64)
        t = time.perf_counter()
        for _ in range(20):
            a = (a * 1103515245 + 12345) & 0xFFFFFFFF
        walls.append((time.perf_counter() - t) * 1e3)
    return statistics.median(walls)


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------

def _trace_targets():
    """(module, attribute, span name) of every public function the traced
    run wraps, at the attribute the engine's callers resolve at call time."""
    from sparrow_ipc_spark.operators import encode_job
    from sparrow_ipc_spark.sources import manifest

    return [
        (encode_job, "build_global_dicts", "encode_job.build_global_dicts"),
        (encode_job, "delta_dictionaries", "encode_job.delta_dictionaries"),
        (encode_job, "write_dict_rows", "encode_job.write_dict_rows"),
        (manifest, "acquire_commit_lease", "manifest.lease"),
        (manifest, "read_manifest_rows", "manifest.read_rows"),
        (manifest, "vacuum_orphan_blocks", "manifest.vacuum"),
        (manifest, "manifest_rows_for_new_files", "manifest.rows_for_new_files"),
        (manifest, "write_segment", "manifest.write_segment"),
        (manifest, "write_cursor", "manifest.write_cursor"),
    ]


class Tracer:
    """In-memory span recorder: (name, start, end, parent, op) per span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, name, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def installed(self):
        """Wrap the traced engine functions for the duration of the block."""
        for mod, attr, name in _trace_targets():
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(name, orig))
        try:
            yield self
        finally:
            while self._saved:
                mod, attr, orig = self._saved.pop()
                setattr(mod, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_time(self, rec: dict) -> float:
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"] and s["end"] is not None)
        return (rec["end"] - rec["start"]) - kids

    def tree(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [{"id": s["id"], "name": s["name"], "op": s["op"],
                 "parent": s["parent"],
                 "start_ms": round((s["start"] - t0) * 1e3, 3),
                 "dur_ms": round((s["end"] - s["start"]) * 1e3, 3),
                 "self_ms": round(self.self_time(s) * 1e3, 3)}
                for s in self.spans if s["end"] is not None]


class JobCounter:
    """Spark jobs, stages and tasks launched by one step.

    The step's jobs carry its job group; jobs submitted from helper threads
    (roundtrip_report runs its two passes in a thread pool) carry no group,
    so the new group-less job ids are added to the count.  The status store
    is fed asynchronously by the listener bus, so it is drained before each
    read."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.prefix = f"perfbench-{uuid.uuid4().hex[:8]}"  # unique per run

    @contextmanager
    def count(self, name: str, into: dict):
        group = f"{self.prefix}.{name}"
        self.bus.waitUntilEmpty()
        before = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.bus.waitUntilEmpty()
            jobs = set(self.tracker.getJobIdsForGroup(group))
            jobs |= set(self.tracker.getJobIdsForGroup(None)) - before
            stages = set()
            for j in jobs:
                info = self.tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                info = self.tracker.getStageInfo(s)
                if info is not None:
                    tasks += info.numTasks
            into.update(jobs=len(jobs), stages=len(stages), tasks=tasks)
