"""The closed-loop, single-client workloads.

Each op is a fixed sequence of steps against the engine's public entry
points; every step's wall is kept in op order, and every op checks its
output.  Inputs are a pure function of the run seed.

* ``bulk_roundtrip``: encode a fixed transcript table into a fresh
  directory, decode it fully, audit it bit for bit.  Per-row layers carry
  the work.
* ``append_ingest``: append one pre-generated increment to a committed
  table, then read one of its conversations back through the DataSource
  (``read_encoded``) and through ``decode_dir``.  The commit plane, decode
  planning and Spark's fixed job cost carry the work.

A traced run also runs :func:`probe`, one op of every step kind, so every
layer is measured whichever workload is traced.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager, nullcontext

import numpy as np
from pyspark.sql import functions as F

from perfbench import harness
from sparrow_ipc_spark.operators.decode_job import decode_dir
from sparrow_ipc_spark.operators.encode_job import write_encoded
from sparrow_ipc_spark.operators.verify import roundtrip_report
from sparrow_ipc_spark.sources.datasource import read_encoded
from sparrow_ipc_spark.sources.transcripts import (
    GenContext, conv_turn_count, transcripts_df)

STEPS = ("encode", "decode", "verify", "append", "fresh_read",
         "point_read", "pushdown_read", "projected_read")

# Input sizes.  "full" is the benchmark; "toy" keeps the benchmark's own
# tests fast.  Changing a size changes every input fingerprint in pins.json.
SCALES = {
    "full": {
        "bulk_roundtrip": {"turns": 100_000},
        "append_ingest": {"base_turns": 35_000, "inc_turns": 8000, "n_inc": 6,
                          "pre": 1, "hot_every": 150, "hot_turns": 1500},
        "probe_inc_convs": 300,
    },
    "toy": {
        "bulk_roundtrip": {"turns": 5000},
        "append_ingest": {"base_turns": 3500, "inc_turns": 700, "n_inc": 5,
                          "pre": 2, "hot_every": 20, "hot_turns": 200},
        "probe_inc_convs": 40,
    },
}


def derived_seed(seed: int, *salt: int) -> int:
    return int(np.random.SeedSequence([seed, *salt]).generate_state(1)[0] >> 1)


def convs_for_turns(seed: int, turns: int, **knobs) -> int:
    """Fewest conversations whose generated turns reach ``turns``: the
    heavy-tailed turn counts would otherwise make table size, and with it
    every op's wall, differ from seed to seed."""
    n = total = 0
    while total < turns:
        total += conv_turn_count(seed, n, **knobs)
        n += 1
    return n


def gen_parquet(spark, path: str, n_convs: int, seed: int, **knobs) -> None:
    """Materialize generated transcripts as parquet: conversation-contiguous
    and turn-ordered within each file, so the clustered encode applies."""
    transcripts_df(spark, n_convs=n_convs, seed=seed,
                   parallelism=2 * harness.THREADS, **knobs
                   ).write.mode("overwrite").parquet(path)


def conv_counts(df, conv_ids) -> dict[str, int]:
    """Expected row count of each conversation: a plain Spark filter."""
    rows = (df.where(F.col("conv_id").isin(list(conv_ids)))
            .groupBy("conv_id").count().collect())
    got = {r["conv_id"]: int(r["count"]) for r in rows}
    return {c: got.get(c, 0) for c in conv_ids}


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e3


class Bench:
    """Run context: the session, the work directory, and (in traced runs)
    the tracer and the per-op Spark job counter."""

    def __init__(self, spark, work: str, trace: bool):
        self.spark = spark
        self.work = work
        self.tracer = harness.Tracer() if trace else None
        self.jobs = harness.JobCounter(spark) if trace else None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def new_op(self, i: int, phase: str, traced: bool = False) -> dict:
        return {"i": i, "phase": phase, "traced": traced, "ok": False,
                "error": None, "steps": {}, "sub": {}, "jobs": {}}

    @contextmanager
    def op_scope(self, rec: dict):
        """Trace one whole op when the record asks for it."""
        if not rec["traced"]:
            yield
            return
        self.tracer.op = f"{rec['phase']}{rec['i']}"
        try:
            with self.tracer.installed(), self.tracer.span("op"):
                yield
        finally:
            self.tracer.op = None

    @contextmanager
    def step(self, rec: dict, name: str):
        """Time one step; in a traced op also open a span and count jobs."""
        sub = rec["sub"].setdefault(name, {})
        traced = rec["traced"]
        span = self.tracer.span(f"step.{name}") if traced else nullcontext()
        jobs = (self.jobs.count(f"{self.tracer.op}.{name}",
                                rec["jobs"].setdefault(name, {}))
                if traced else nullcontext())
        t0 = time.perf_counter()
        with span, jobs:
            yield sub
        rec["steps"][name] = _ms(t0)

    # -- steps shared by the workloads and the traced probe ----------------

    def encode(self, rec, src, table) -> dict:
        with self.step(rec, "encode"):
            return write_encoded(self.spark, src, table, clustered=True)

    def decode(self, rec, table) -> None:
        with self.step(rec, "decode") as sub:
            t = time.perf_counter()
            df = decode_dir(self.spark, table)
            sub["plan_ms"] = _ms(t)
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            sub["exec_ms"] = _ms(t)

    def verify(self, rec, src, table) -> bool:
        with self.step(rec, "verify"):
            rep = roundtrip_report(src, decode_dir(self.spark, table))
        return bool(rep["all_columns_identical"]) and rep["text_mismatches"] == 0

    def append(self, rec, inc, table) -> dict:
        with self.step(rec, "append"):
            return write_encoded(self.spark, inc, table, append=True,
                                 n_parts=harness.THREADS)

    def ds_lookup(self, rec, name, table, conv_id) -> int:
        """``read_encoded(...).where(conv_id = ...)`` count (fresh or
        pushdown read)."""
        with self.step(rec, name) as sub:
            t = time.perf_counter()
            df = read_encoded(self.spark, table).where(F.col("conv_id") == conv_id)
            sub["plan_ms"] = _ms(t)
            t = time.perf_counter()
            n = df.count()
            sub["exec_ms"] = _ms(t)
        return n

    def point_read(self, rec, table, conv_id) -> int:
        with self.step(rec, "point_read") as sub:
            t = time.perf_counter()
            df = decode_dir(self.spark, table, conv_id=conv_id)
            sub["plan_ms"] = _ms(t)
            t = time.perf_counter()
            n = df.count()
            sub["exec_ms"] = _ms(t)
        return n

    def projected_read(self, rec, table) -> int:
        with self.step(rec, "projected_read") as sub:
            t = time.perf_counter()
            df = decode_dir(self.spark, table, columns=["role", "tool"])
            sub["plan_ms"] = _ms(t)
            t = time.perf_counter()
            n = df.count()
            sub["exec_ms"] = _ms(t)
        return n


def segment_count(table: str) -> int:
    d = os.path.join(table, "manifest")
    return sum(1 for f in os.listdir(d)
               if f.startswith("seg") and f.endswith(".parquet"))


def table_sizes(stats: dict, table: str) -> dict:
    rows = max(1, int(stats["rows"]))
    return {"bytes_per_turn": stats["enc_bytes"] / rows,
            "disk_bytes_per_turn": harness.dir_bytes(table) / rows}


class Workload:
    name = ""
    # Ops run before the timed window, counted in setup_s.  Op walls keep
    # falling for several ops of a fresh JVM (the planner's code warms per
    # query, not per row); each workload's count reaches its plateau.
    warmup_ops = 0

    def __init__(self, bench: Bench, seed: int, scale: dict):
        self.b = bench
        self.spark = bench.spark
        self.seed = seed
        self.cfg = scale[self.name]
        self.probe_inc_convs = scale["probe_inc_convs"]
        self.sizes: dict = {}

    def build(self, rep: str) -> None:
        """One data set-up repetition into the fresh directory ``rep``."""
        raise NotImplementedError

    def prepare(self) -> dict:
        """Input fingerprint and expected answers, computed once."""
        raise NotImplementedError

    def op(self, rec: dict) -> bool:
        raise NotImplementedError

    def audit(self) -> dict[str, bool]:
        """End-of-run checks, outside every timed region."""
        return {}

    def source(self):
        """(DataFrame, parquet path) of the workload's primary input."""
        raise NotImplementedError


class BulkRoundtrip(Workload):
    name = "bulk_roundtrip"
    # ops 2-5 of a fresh JVM still run 5-25% above the plateau
    warmup_ops = 6

    def build(self, rep):
        self.src_path = os.path.join(rep, "src")
        gen_parquet(self.spark, self.src_path,
                    convs_for_turns(self.seed, self.cfg["turns"]), self.seed)

    def prepare(self):
        self.src = self.spark.read.parquet(self.src_path)
        fp = harness.table_fingerprint(self.src)
        self.rows = fp["rows"]
        return fp

    def op(self, rec):
        table = self.b.path(f"table_{rec['phase']}{rec['i']}")
        try:
            stats = self.b.encode(rec, self.src, table)
            self.sizes = table_sizes(stats, table)
            self.b.decode(rec, table)
            same = self.b.verify(rec, self.src, table)
            return same and int(stats["rows"]) == self.rows
        finally:
            shutil.rmtree(table, ignore_errors=True)

    def source(self):
        return self.src, self.src_path


class AppendIngest(Workload):
    """Each op commits one increment onto the same committed table state
    (the base table plus ``pre`` increments), restored from a copy between
    ops outside the timed region, so every op sees the same table size."""

    name = "append_ingest"
    # the first op takes ~3x the plateau, ops 2-4 run 5-15% above it
    warmup_ops = 4

    def build(self, rep):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from sparrow_ipc_spark.schema import TRANSCRIPTS_SCHEMA

        c = self.cfg
        self.base_path = os.path.join(rep, "base")
        self.incs_path = os.path.join(rep, "increments")
        self.table = os.path.join(rep, "table")
        self.template = os.path.join(rep, "template")
        gen_parquet(self.spark, self.base_path,
                    convs_for_turns(self.seed, c["base_turns"]), self.seed)
        # every increment has its own derived seed: fresh conv_ids, fresh
        # tool names (delta dictionary rows) and hot conversations.  Each
        # holds exactly ``inc_turns`` turns, its last conversation cut there
        # as a batch boundary would, so every seed commits the same amount.
        # The increment's first conversation is read back after its commit.
        schema = to_arrow_schema(TRANSCRIPTS_SCHEMA)
        hot = {"hot_every": c["hot_every"], "hot_turns": c["hot_turns"]}
        self.inc_rows, self.fresh = [], []
        for k in range(c["n_inc"]):
            inc_seed = derived_seed(self.seed, k)
            n_convs = convs_for_turns(inc_seed, c["inc_turns"], **hot)
            batch = GenContext(inc_seed).batch(range(n_convs), **hot).cast(
                schema).slice(0, c["inc_turns"])
            d = os.path.join(self.incs_path, f"inc={k}")
            os.makedirs(d)
            pq.write_table(pa.Table.from_batches([batch]), os.path.join(d, "part-0.parquet"))
            first = batch.column("conv_id")[0].as_py()
            self.inc_rows.append(batch.num_rows)
            self.fresh.append((first, sum(v == first for v in
                                          batch.column("conv_id").to_pylist())))
        base = self.spark.read.parquet(self.base_path)
        stats = write_encoded(self.spark, base, self.table, clustered=True)
        for k in range(c["pre"]):
            stats = write_encoded(self.spark, self.inc_df(k), self.table,
                                  append=True, n_parts=harness.THREADS)
        self.template_rows = int(stats["rows"])
        shutil.copytree(self.table, self.template)

    def inc_df(self, k: int):
        return self.spark.read.parquet(os.path.join(self.incs_path, f"inc={k}"))

    def prepare(self):
        self.base = self.spark.read.parquet(self.base_path)
        self.incs = self.spark.read.parquet(self.incs_path)
        self.last = None
        return harness.table_fingerprint(
            self.base.unionByName(self.incs.drop("inc")))

    def op(self, rec):
        pre, n_inc = self.cfg["pre"], self.cfg["n_inc"]
        k = pre + rec["i"] % (n_inc - pre)
        shutil.rmtree(self.table)
        shutil.copytree(self.template, self.table)
        inc = self.inc_df(k)
        before = harness.dir_bytes(self.table)
        self.last = k
        stats = self.b.append(rec, inc, self.table)
        rec["bytes_written"] = harness.dir_bytes(self.table) - before
        self.sizes = table_sizes(stats, self.table)
        conv, want = self.fresh[k]
        n_ds = self.b.ds_lookup(rec, "fresh_read", self.table, conv)
        n_dec = self.b.point_read(rec, self.table, conv)
        return (n_ds == want and n_dec == want
                and int(stats["rows"]) == self.template_rows + self.inc_rows[k])

    def audit(self):
        """The decoded table equals the base plus every increment it holds."""
        held = list(range(self.cfg["pre"])) + [self.last]
        expect = self.base.unionByName(
            self.incs.where(F.col("inc").isin(held)).drop("inc"))
        got = harness.table_fingerprint(decode_dir(self.spark, self.table))
        return {"table_fingerprint": got == harness.table_fingerprint(expect)}

    def segments(self) -> int:
        return segment_count(self.table)

    def source(self):
        return self.base, self.base_path


WORKLOADS = {w.name: w for w in (BulkRoundtrip, AppendIngest)}


def probe(wl: Workload, rec: dict) -> bool:
    """Traced run only: one op of every step kind on a fresh table encoded
    from the workload's own input, so every layer shows up in every traced
    run.  Expected answers are computed before the op starts."""
    b, spark = wl.b, wl.spark
    src, _ = wl.source()
    table = b.path("probe_table")
    inc_path = b.path("probe_inc")
    gen_parquet(spark, inc_path, wl.probe_inc_convs, derived_seed(wl.seed, 9999))
    inc = spark.read.parquet(inc_path)
    conv = src.select("conv_id").orderBy("conv_id").first()["conv_id"]
    fresh = GenContext(derived_seed(wl.seed, 9999)).raw(0)["conv_id"]
    want = conv_counts(src, [conv])[conv]
    want_fresh = conv_counts(inc, [fresh])[fresh]
    rows = src.count()
    try:
        with b.op_scope(rec):
            b.encode(rec, src, table)
            b.decode(rec, table)
            ok = b.verify(rec, src, table)
            ok &= b.point_read(rec, table, conv) == want
            ok &= b.ds_lookup(rec, "pushdown_read", table, conv) == want
            ok &= b.projected_read(rec, table) == rows
            before = harness.dir_bytes(table)
            b.append(rec, inc, table)
            rec["bytes_written"] = harness.dir_bytes(table) - before
            ok &= b.ds_lookup(rec, "fresh_read", table, fresh) == want_fresh
        rec["blocks_kept_ratio"] = blocks_kept_ratio(spark, table, conv)
        rec["partitions_per_read"] = read_encoded(spark, table).where(
            F.col("conv_id") == conv).rdd.getNumPartitions()
        rec["segments"] = segment_count(table)
        return ok
    finally:
        shutil.rmtree(table, ignore_errors=True)
        shutil.rmtree(inc_path, ignore_errors=True)


def blocks_kept_ratio(spark, table: str, conv_id: str) -> float:
    """Share of blocks a point lookup's zone-map pruning keeps."""
    from sparrow_ipc_spark.operators.decode_job import prune_blocks

    blocks = spark.read.parquet(os.path.join(table, "blocks")).select(
        "conv_min", "conv_max")
    total = blocks.count()
    return prune_blocks(blocks, conv_id=conv_id).count() / max(1, total)
