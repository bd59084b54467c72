"""Streaming encode: delta dictionaries + incremental blocks.

Mirrors the reference's stateful serializer contract: dictionaries emitted
before data batches, later-arriving values appended via delta batches
(/root/reference/src/dictionary_tracker.cpp:233-307,
dictionary_cache.cpp:20-111), decode merges versions in order.
"""

from __future__ import annotations

import pytest

from sparrow_ipc_spark.operators.decode_job import decode_dir
from sparrow_ipc_spark.operators.verify import roundtrip_report
from sparrow_ipc_spark.sources.transcripts import transcripts_df
from sparrow_ipc_spark.streaming.encode_stream import StreamingEncoder, encode_stream


def test_delta_dictionaries_roundtrip(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_enc"))
    df = transcripts_df(spark, n_convs=40, seed=42).cache()
    # split stream into two micro-batches with disjoint-ish conversations
    b1 = df.where("substr(conv_id, -2, 2) < '20'")
    b2 = df.subtract(b1)
    enc = StreamingEncoder(spark, out, n_parts=4)
    enc.process_batch(b1, 0)
    enc.process_batch(b2, 1)

    dicts = spark.read.parquet(f"{out}/dictionaries")
    rows = dicts.collect()
    # first emission is a base dictionary; later new values arrive as deltas
    assert any(not r["is_delta"] for r in rows)
    versions = sorted({r["version"] for r in rows})
    assert versions[0] == 0
    if len(versions) > 1:
        assert all(r["is_delta"] for r in rows if r["version"] > 0)

    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep
    assert rep["text_mismatches"] == 0


def test_streaming_dict_cardinality_guard(spark, tmp_path_factory):
    """A high-cardinality column listed as a dict col must DEMOTE to
    block-local dictionaries (no unbounded collect_set to the driver every
    micro-batch — the 10^12-row OOM shape), and still round-trip."""
    from pyspark.sql import functions as F

    import sparrow_ipc_spark.streaming.encode_stream as ES

    out = str(tmp_path_factory.mktemp("stream_card"))
    df = transcripts_df(spark, n_convs=60, seed=3).cache()
    # conv_id is effectively unique per conversation — a mis-listed dict col
    enc = StreamingEncoder(spark, out, dict_cols=("role", "conv_id"), n_parts=4)
    old_max = ES.DICT_MAX_GLOBAL_DISTINCT
    ES.DICT_MAX_GLOBAL_DISTINCT = 8  # force the ceiling at test scale
    try:
        b1 = df.where("substr(conv_id, -2, 2) < '30'")
        enc.process_batch(b1, 0)
        enc.process_batch(df.subtract(b1), 1)
    finally:
        ES.DICT_MAX_GLOBAL_DISTINCT = old_max
    assert "conv_id" in enc._demoted
    assert "role" not in enc._demoted and enc._values["role"]
    dicts = spark.read.parquet(f"{out}/dictionaries")
    assert dicts.where("col_name = 'conv_id'").count() == 0  # never emitted
    # demoted column round-trips via block-local / other codecs
    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep
    assert rep["text_mismatches"] == 0


def test_streaming_demotion_after_emit_uses_dict_local(spark, tmp_path_factory):
    """A column whose cardinality explodes AFTER dictionary values were
    emitted demotes mid-stream: later blocks must use block-local (or
    other) codecs — NOT freeze on the stale global dict and fall to raw —
    and the whole table still round-trips; earlier blocks keep decoding
    against the committed dictionary rows."""
    from pyspark.sql import functions as F

    import sparrow_ipc_spark.streaming.encode_stream as ES

    out = str(tmp_path_factory.mktemp("stream_demote"))
    df = transcripts_df(spark, n_convs=60, seed=11).cache()
    b1 = df.where("substr(conv_id, -2, 2) < '30'").cache()
    b2 = df.subtract(b1).cache()
    # batch 1: 'role' is tiny (fits); batch 2: swap role for ~100 distinct
    # values — above the (patched) global ceiling, but still block-local
    # dictionary-compressible, so the selector should pick dict_local
    b2_hot = b2.withColumn(
        "role", F.concat(F.lit("r_"), F.substring("conv_id", -2, 2))
    ).cache()
    expected = b1.unionByName(b2_hot)
    enc = StreamingEncoder(spark, out, dict_cols=("role",), n_parts=4)
    old_max = ES.DICT_MAX_GLOBAL_DISTINCT
    ES.DICT_MAX_GLOBAL_DISTINCT = 8
    try:
        enc.process_batch(b1, 0)
        assert enc._values["role"] and "role" not in enc._demoted  # emitted
        enc.process_batch(b2_hot, 1)
    finally:
        ES.DICT_MAX_GLOBAL_DISTINCT = old_max
    assert "role" in enc._demoted
    assert "role" not in enc.payload()  # stale global dict must not shadow
    blocks = spark.read.parquet(f"{out}/blocks")
    codecs = {
        r["codec"] for r in blocks.select(F.explode("columns").alias("c"))
        .select(F.col("c.name").alias("n"), F.col("c.codec").alias("codec"))
        .where("n = 'role'").collect()
    }
    assert "dict" in codecs          # batch-1 blocks reference the global dict
    # post-demotion blocks pick per-chunk winners (dict_local/rle/...)
    # instead of freezing on the stale global dict
    assert codecs - {"dict"}
    rep = roundtrip_report(expected, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep


def test_streaming_encoder_restart_recovers_dict_state(spark, tmp_path_factory):
    """A RESTARTED stream (fresh StreamingEncoder over an existing dir)
    must rebuild the dictionary tracker from committed rows: codes extend
    the committed assignment instead of re-emitting version 0 — a fresh
    tracker would silently decode post-restart blocks to WRONG values."""
    out = str(tmp_path_factory.mktemp("stream_restart"))
    df = transcripts_df(spark, n_convs=40, seed=23).cache()
    b1 = df.where("substr(conv_id, -2, 2) < '50'").cache()
    b2 = df.subtract(b1).cache()
    enc1 = StreamingEncoder(spark, out, n_parts=4)
    enc1.process_batch(b1, 0)
    v1 = dict(enc1._values)
    # simulate a stream restart: brand-new encoder instance, same out_dir
    enc2 = StreamingEncoder(spark, out, n_parts=4)
    assert enc2._values == v1          # state recovered from committed rows
    assert enc2._version >= 1
    enc2.process_batch(b2, 1)
    dicts = spark.read.parquet(f"{out}/dictionaries").collect()
    base_rows = [r for r in dicts if not r["is_delta"]]
    # exactly one base emission per column — never a second version-0 row
    assert len(base_rows) == len({r["col_name"] for r in base_rows})
    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep
    assert rep["text_mismatches"] == 0


def test_streaming_source_plumbing(spark, tmp_path_factory):
    src_dir = str(tmp_path_factory.mktemp("stream_src"))
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    df = transcripts_df(spark, n_convs=12, seed=42).cache()
    df.coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream_df = spark.readStream.schema(df.schema).parquet(src_dir)
    q, enc = encode_stream(spark, stream_df, out, ckpt, trigger_once=True)
    q.awaitTermination(120)
    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep


def test_streaming_encoder_commits_manifest_segments(spark, tmp_path_factory):
    """foreachBatch encode commits one manifest segment per micro-batch:
    streamed dirs get footer-free DS planning, O(1) cursor offsets,
    non-colliding part ids, and per-batch snapshot lineage."""
    import os

    from sparrow_ipc_spark.sources import manifest as M
    from sparrow_ipc_spark.sources.datasource import SparrowIPCReader, _infer_fields

    out = str(tmp_path_factory.mktemp("stream_man"))
    df = transcripts_df(spark, n_convs=30, seed=11).cache()
    b1 = df.where("substr(conv_id, -1, 1) < '5'")
    b2 = df.subtract(b1)
    enc = StreamingEncoder(spark, out, n_parts=2)
    enc.process_batch(b1, 0)
    enc.process_batch(b2, 1)

    segs = [f for f in os.listdir(os.path.join(out, "manifest"))
            if f.startswith("seg-") and f.endswith(".parquet")]
    assert len(segs) == 2
    rows = M.read_manifest_rows(out)
    # part ids never collide across micro-batches (snapshot time travel
    # would otherwise resolve a part id to every batch's rows)
    parts_by_snap: dict = {}
    for r in rows:
        parts_by_snap.setdefault(int(r["snapshot"]), set()).add(int(r["part_id"]))
    snaps = sorted(parts_by_snap)
    assert len(snaps) == 2
    assert not (parts_by_snap[snaps[0]] & parts_by_snap[snaps[1]])
    # cursor present and consistent
    assert M.read_cursor(out) is not None
    # footer-free planning over the streamed dir
    import pyarrow.parquet as pq

    fields = _infer_fields(out)
    orig = pq.ParquetFile
    try:
        def boom(*a, **k):
            raise AssertionError("planner opened a footer on a streamed dir")

        pq.ParquetFile = boom
        parts = SparrowIPCReader({"path": out}, fields).partitions()
    finally:
        pq.ParquetFile = orig
    assert parts
    # time travel: snapshot 0 decodes exactly batch 1's rows
    dec0 = decode_dir(spark, out, snapshot=snaps[0])
    assert dec0.count() == b1.count()
    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"] and rep["text_mismatches"] == 0


def test_streaming_batch_replay_is_idempotent(spark, tmp_path_factory):
    """foreachBatch replay (crash after commit, before the checkpoint
    records the batch): re-running process_batch with the same batch_id
    must reuse the crashed attempt's part offset and snapshot, so the
    re-encode overwrites the same files and no row duplicates."""
    import os

    from sparrow_ipc_spark.sources import manifest as M

    out = str(tmp_path_factory.mktemp("stream_replay"))
    df = transcripts_df(spark, n_convs=24, seed=13).cache()
    b1 = df.where("substr(conv_id, -1, 1) < '5'").cache()
    b2 = df.subtract(b1).cache()
    enc = StreamingEncoder(spark, out, n_parts=2)
    enc.process_batch(b1, 0)
    snap0 = M.committed_state(out)[0]
    # replay batch 0 with a FRESH encoder (driver restart lost the tracker)
    enc2 = StreamingEncoder(spark, out, n_parts=2)
    enc2.process_batch(b1, 0)
    assert M.committed_state(out)[0] == snap0  # snapshot reused, not minted
    enc2.process_batch(b2, 1)
    dec = decode_dir(spark, out)
    assert dec.count() == df.count()  # replay never duplicates rows
    rep = roundtrip_report(df, dec)
    assert rep["all_columns_identical"] and rep["text_mismatches"] == 0
    # the replay overwrites the first attempt's deterministic block files,
    # so blocks/ holds exactly the manifested set: readers without the
    # (part_id, batch_seq, crc) dedupe (the batch DataSource) see each
    # row once and the manifest-vs-disk planning fast path stays intact
    disk = {f for f in os.listdir(f"{out}/blocks") if f.endswith(".parquet")}
    manifested = {r["file"] for r in M.read_manifest_rows(out)}
    assert disk == manifested
    from sparrow_ipc_spark.sources.datasource import read_encoded

    assert read_encoded(spark, out).count() == df.count()
