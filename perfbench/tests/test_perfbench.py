"""The benchmark's own tests, at toy scale.

    python3 -m pytest perfbench/tests -q

They run the benchmark in-process on one Spark session: every named metric
is emitted with its unit, every traced span fires, Spark job and stage counts
repeat exactly, and a corrupted block makes the bulk op count as failed.
"""

from __future__ import annotations

import json
import os
import tempfile

import pyarrow.parquet as pq
import pytest

from perfbench import harness, run, workloads

SPEC = json.load(open(os.path.join(harness.ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SPAN_NAMES = [name for _, _, name in harness._trace_targets()]


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    saved = dict(os.environ)
    work = str(tmp_path_factory.mktemp("perfbench"))
    harness.pin_environment(work)
    spark = harness.start_session()
    yield spark, work
    harness.stop_session(spark)
    os.environ.clear()
    os.environ.update(saved)


def execute(env, workload, trace, seed=3):
    spark, work = env
    return run.execute(spark, tempfile.mkdtemp(dir=work), workload, seed,
                       seconds=0.0, trace=trace, scale="toy")


@pytest.fixture(scope="module")
def traced(env):
    return {w: [execute(env, w, True), execute(env, w, True)] for w in WORKLOADS}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_emitted_with_units(env, workload):
    report = execute(env, workload, False)
    line = run.result_line(report, run.metric_units(False))
    assert line["correct"] and line["failed"] == 0
    assert line["attempted"] >= run.MIN_OPS
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert all(v["value"] > 0 for v in line["metrics"].values())
    assert report["input"]["fingerprint"]["rows"] > 0
    assert set(report["host"]) >= {"nproc", "master", "steal_pct", "load1", "calib_ms"}


def test_per_layer_metrics_and_spans(traced):
    want = {m["name"] for m in SPEC["per_layer"]}
    for workload, (report, _) in traced.items():
        assert report["failed"] == 0, workload
        assert set(report["metrics"]) == want
        missing = [k for k, v in report["metrics"].items() if v is None]
        assert not missing, (workload, missing)
        fired = {s["name"] for s in report["spans"]}
        assert set(SPAN_NAMES) <= fired, (workload, set(SPAN_NAMES) - fired)
        assert {f"step.{s}" for s in workloads.STEPS} <= fired


def test_spark_job_counts_repeat(traced):
    """Job and stage counts repeat exactly for the same seed.  Task counts
    are left out: adaptive execution sizes some stages at run time."""
    for workload, (a, b) in traced.items():
        counts = {k: v for k, v in a["metrics"].items()
                  if k.startswith(("spark.jobs_per_op.", "spark.stages_per_op."))}
        assert counts == {k: b["metrics"][k] for k in counts}, workload


def test_tampered_block_body_fails_bulk_op(env, monkeypatch):
    """Flip one byte of one block body right after the encode commits: the
    op must count as failed, proving the correctness gate gates."""
    real = workloads.write_encoded

    def write_then_tamper(spark, df, out_dir, **kw):
        stats = real(spark, df, out_dir, **kw)
        blocks = os.path.join(out_dir, "blocks")
        path = os.path.join(blocks, sorted(f for f in os.listdir(blocks)
                                           if f.endswith(".parquet"))[0])
        tbl = pq.read_table(path)
        bodies = tbl.column("body").to_pylist()
        body = bytearray(bodies[0])
        body[len(body) // 2] ^= 0xFF
        bodies[0] = bytes(body)
        i = tbl.schema.get_field_index("body")
        pq.write_table(tbl.set_column(i, tbl.schema.field(i), [bodies]), path)
        return stats

    monkeypatch.setattr(workloads, "write_encoded", write_then_tamper)
    report = execute(env, "bulk_roundtrip", False)
    timed = [r for r in report["ops"] if r["phase"] == "timed"]
    assert timed and not any(r["ok"] for r in timed)
    assert report["failed"] == len(report["ops"])
    assert not run.result_line(report, run.metric_units(False))["correct"]


def test_input_drift_fails_loudly():
    """A moved generator canary or a seed's moved input fingerprint raises;
    an unpinned seed passes with only the canary checked."""
    with open(run.PINS) as f:
        pins = json.load(f)
    moved = {**pins, "canary": {**pins["canary"], "hash": "0" * 16}}
    with pytest.raises(harness.InputDrift):
        harness.check_pins(moved, "full", "bulk_roundtrip", 1, {})
    with pytest.raises(harness.InputDrift):
        harness.check_pins(pins, "full", "bulk_roundtrip", 1, {"rows": 1, "hash": "x"})
    assert not harness.check_pins(pins, "full", "bulk_roundtrip", 10**6,
                                  {"rows": 1, "hash": "x"})
