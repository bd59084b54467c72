"""Round-4 manifest plane: append-only segments, O(batch) commits,
zero-footer read planning, cursor-based streaming offsets, migration.

The reference writes ONE footer per file at close
(/root/reference/src/stream_file_serializer.cpp:34-129); a multi-writer
10^12-turn table needs the Iceberg-style append-only manifest log these
tests pin down.
"""

from __future__ import annotations

import json
import os

import pytest

from sparrow_ipc_spark.sources import manifest as M
from sparrow_ipc_spark.sources.datasource import (
    SparrowIPCDataSource,
    SparrowIPCReader,
    SparrowIPCStreamReader,
    _blocks_files,
    _infer_fields,
)


@pytest.fixture(scope="module")
def ds_dir(spark, tmp_path_factory):
    """A directory written through the Spark DataSource writer in three
    commits (overwrite + two appends)."""
    out = str(tmp_path_factory.mktemp("seg") / "enc")
    spark.dataSource.register(SparrowIPCDataSource)
    ev = spark.range(0, 3000).selectExpr(
        "cast(id as string) as conv_id", "cast(id % 7 as int) as turn_idx",
        "concat('txt-', id) as text")
    ev.repartition(3).write.format("sparrow_ipc").mode("overwrite").save(out)
    ev.repartition(2).write.format("sparrow_ipc").mode("append").save(out)
    ev.repartition(2).write.format("sparrow_ipc").mode("append").save(out)
    return out


def _segments(out: str) -> list[str]:
    d = os.path.join(out, "manifest")
    return sorted(f for f in os.listdir(d)
                  if f.startswith("seg-") and f.endswith(".parquet"))


def test_commit_appends_one_segment_per_write(ds_dir):
    assert len(_segments(ds_dir)) == 3


def test_commit_does_not_rewrite_prior_segments(spark, tmp_path):
    """O(batch) commit: an append must leave every previously-committed
    segment file byte-untouched (same inode, mtime, size) — the committed
    history is never rewritten, however many parts the table holds."""
    out = str(tmp_path / "enc")
    ev = spark.range(0, 500).selectExpr("cast(id as string) as conv_id",
                                        "concat('t', id) as text")
    ev.repartition(2).write.format("sparrow_ipc").mode("overwrite").save(out)
    before = {f: os.stat(os.path.join(out, "manifest", f))
              for f in _segments(out)}
    ev.repartition(2).write.format("sparrow_ipc").mode("append").save(out)
    for f, st in before.items():
        now = os.stat(os.path.join(out, "manifest", f))
        assert (now.st_ino, now.st_mtime_ns, now.st_size) == \
            (st.st_ino, st.st_mtime_ns, st.st_size)


def test_partitions_plan_without_footer_reads(ds_dir, monkeypatch):
    """The committed manifest records (file, file_row_groups), so read
    planning opens ZERO parquet footers — at 10^4+ block files per table
    that is the difference between instant planning and minutes of serial
    driver I/O."""
    import pyarrow.parquet as pq

    fields = _infer_fields(ds_dir)

    def boom(*a, **k):  # any footer open during planning = regression
        raise AssertionError("partitions() opened a parquet footer")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    r = SparrowIPCReader({"path": ds_dir}, fields)
    parts = r.partitions()
    assert parts
    planned = {os.path.basename(p.file) for p in parts}
    assert planned == {os.path.basename(f) for f in _blocks_files(ds_dir)}
    # spans cover every row group exactly once per file
    spans: dict[str, list[tuple[int, int]]] = {}
    for p in parts:
        spans.setdefault(p.file, []).append((p.rg_start, p.rg_end))
    for f, ss in spans.items():
        ss.sort()
        assert ss[0][0] == 0
        for (s0, e0), (s1, e1) in zip(ss, ss[1:]):
            assert e0 == s1


def test_partitions_footer_fallback_when_manifest_missing(ds_dir, tmp_path):
    """A manifest-less (or crash-inconsistent) dir still plans correctly
    via threaded footer reads."""
    import shutil

    out = str(tmp_path / "copy")
    shutil.copytree(ds_dir, out)
    shutil.rmtree(os.path.join(out, "manifest"))
    fields = _infer_fields(out)
    parts = SparrowIPCReader({"path": out}, fields).partitions()
    assert {os.path.basename(p.file) for p in parts} == \
        {os.path.basename(f) for f in _blocks_files(out)}


def test_write_encoded_records_file_mapping(spark, tmp_path):
    """write_encoded commits also record the physical file mapping, so
    DS reads of job-written dirs plan footer-free too."""
    from sparrow_ipc_spark.operators.encode_job import write_encoded
    from sparrow_ipc_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "enc")
    df = transcripts_df(spark, n_convs=60, seed=3)
    write_encoded(spark, df, out, n_parts=4)
    rows = M.read_manifest_rows(out)
    assert rows and all(r["file"] and r["file_row_groups"] for r in rows)
    disk = {os.path.basename(f) for f in _blocks_files(out)}
    assert {r["file"] for r in rows} == disk


def test_append_vacuums_orphan_blocks(spark, tmp_path):
    """A crashed append leaves unmanifested block files; the next
    append/resume removes them (the manifest is the commit record), so
    planning stays footer-free and decode never sees duplicates.  A
    manifest whose file mapping is INCONSISTENT with disk (hand-rewritten
    dir) must NOT vacuum."""
    import shutil

    from sparrow_ipc_spark.operators.encode_job import write_encoded
    from sparrow_ipc_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "enc")
    df = transcripts_df(spark, n_convs=40, seed=5)
    write_encoded(spark, df, out, n_parts=2)
    bd = os.path.join(out, "blocks")
    committed = {f for f in os.listdir(bd) if f.endswith(".parquet")}
    # orphan: copy of a committed file under an unmanifested name
    src = sorted(committed)[0]
    shutil.copy2(os.path.join(bd, src), os.path.join(bd, "orphan-crash.parquet"))
    df2 = transcripts_df(spark, n_convs=10, seed=6)
    write_encoded(spark, df2, out, n_parts=1, append=True)
    on_disk = {f for f in os.listdir(bd) if f.endswith(".parquet")}
    assert "orphan-crash.parquet" not in on_disk
    rows = M.read_manifest_rows(out)
    assert {r["file"] for r in rows} == on_disk  # planning check holds


def test_cursor_o1_latest_offset(ds_dir, monkeypatch):
    """latestOffset reads the O(1) cursor — never lists blocks/ (10^6
    files at scale) and never reads a segment."""
    cur = M.read_cursor(ds_dir)
    assert cur is not None and cur["snapshot"] == 2
    assert cur["n_segments"] == 3  # and a stale count invalidates it below
    fields = _infer_fields(ds_dir)

    import sparrow_ipc_spark.sources.datasource as D

    r = SparrowIPCStreamReader({"path": ds_dir}, fields)
    assert r.latestOffset() == {"snap": 2}  # first call probes capability

    def boom(*a, **k):
        raise AssertionError("latestOffset touched the filesystem beyond the cursor")

    monkeypatch.setattr(D, "_blocks_files", boom)
    monkeypatch.setattr(D, "_read_manifest_table", boom)
    # steady state: every subsequent trigger is one cursor read, O(1)
    assert r.latestOffset() == {"snap": 2}


def test_stream_offsets_resolve_incremental_files(ds_dir):
    r = SparrowIPCStreamReader({"path": ds_dir}, _infer_fields(ds_dir))
    all_files = {os.path.basename(f) for f in _blocks_files(ds_dir)}
    f0 = r._offset_files({"snap": 0})
    f2 = r._offset_files({"snap": 2})
    assert f0 < f2 == all_files
    assert r._offset_files(r.initialOffset()) == set()
    parts = r.partitions({"snap": 0}, {"snap": 2})
    assert {os.path.basename(p.file) for p in parts} == f2 - f0


def test_segment_merge_bounds_file_count(tmp_path):
    out = str(tmp_path / "t")
    for i in range(M.SEGMENT_LIMIT + 8):
        M.write_segment(out, [{
            "part_id": i, "n_blocks": 1, "n_rows": 10, "raw_bytes": 100,
            "enc_bytes": 50, "codec_summary": "[]", "status": "committed",
            "snapshot": i, "file": f"f{i}.parquet", "file_row_groups": 1,
        }])
    d = os.path.join(out, "manifest")
    segs = [f for f in os.listdir(d) if f.startswith("seg-")]
    assert len(segs) <= M.SEGMENT_LIMIT + 1
    rows = M.read_manifest_rows(out)
    assert {int(r["part_id"]) for r in rows} == set(range(M.SEGMENT_LIMIT + 8))


def test_legacy_manifest_migration(tmp_path):
    """A pre-segment manifest (single manifest.parquet, no file column) is
    migrated on first append; old rows survive with file=None."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "t")
    d = os.path.join(out, "manifest")
    os.makedirs(d)
    legacy = pa.Table.from_pylist([{
        "part_id": 0, "n_blocks": 2, "n_rows": 20, "raw_bytes": 200,
        "enc_bytes": 90, "codec_summary": "[]", "status": "committed",
    }])
    pq.write_table(legacy, os.path.join(d, "manifest.parquet"))
    M.write_segment(out, [{
        "part_id": 1, "n_blocks": 1, "n_rows": 10, "raw_bytes": 100,
        "enc_bytes": 50, "codec_summary": "[]", "status": "committed",
        "snapshot": 1, "file": "f1.parquet", "file_row_groups": 1,
    }])
    assert not os.path.exists(os.path.join(d, "manifest.parquet"))
    rows = {int(r["part_id"]): r for r in M.read_manifest_rows(out)}
    assert rows[0]["file"] is None and rows[0]["snapshot"] == 0
    assert rows[1]["file"] == "f1.parquet"


def test_crash_duplicate_segment_rows_dedupe(tmp_path):
    """A crash between segment-merge and old-segment deletion can leave
    the same (part_id, file) row twice; readers keep the highest-snapshot
    copy."""
    out = str(tmp_path / "t")
    row = {"part_id": 0, "n_blocks": 1, "n_rows": 10, "raw_bytes": 100,
           "enc_bytes": 50, "codec_summary": "[]", "status": "committed",
           "snapshot": 0, "file": "f.parquet", "file_row_groups": 1}
    M.write_segment(out, [dict(row)])
    M.write_segment(out, [dict(row, snapshot=1)])
    rows = M.read_manifest_rows(out)
    assert len(rows) == 1 and int(rows[0]["snapshot"]) == 1


def test_cursor_recovery_from_full_read(ds_dir, tmp_path):
    """Missing/corrupt cursor degrades to a full segment read with the
    same answer."""
    import shutil

    out = str(tmp_path / "copy")
    shutil.copytree(ds_dir, out)
    snap_fast, part_fast = M.committed_state(out)
    os.remove(os.path.join(out, "manifest", "_cursor.json"))
    assert M.committed_state(out) == (snap_fast, part_fast)
    with open(os.path.join(out, "manifest", "_cursor.json"), "w") as f:
        f.write("{not json")
    assert M.committed_state(out) == (snap_fast, part_fast)


def test_stale_cursor_detected_by_segment_count(ds_dir, tmp_path):
    """A crash between a segment publish and the cursor update leaves the
    cursor behind by one segment; read_cursor must refuse it (trusting it
    would reuse snapshot/part ids) and committed_state must fall back to
    the full read."""
    import shutil

    out = str(tmp_path / "copy")
    shutil.copytree(ds_dir, out)
    snap, maxp = M.committed_state(out)
    # simulate the crash: a new segment lands, cursor not updated
    import pyarrow as pa
    import pyarrow.parquet as pq

    row = {"part_id": maxp + 1, "n_blocks": 1, "n_rows": 1, "raw_bytes": 1,
           "enc_bytes": 1, "codec_summary": "[]", "status": "committed",
           "snapshot": snap + 1, "file": "zz.parquet", "file_row_groups": 1}
    pq.write_table(pa.Table.from_pylist([row], schema=M.manifest_pa_schema()),
                   os.path.join(out, "manifest", "seg-crashed.parquet"))
    assert M.read_cursor(out) is None  # stale → refused
    assert M.committed_state(out) == (snap + 1, maxp + 1)  # full read wins


def test_merge_keeps_just_written_deterministic_segment(tmp_path):
    """Segment merging must never fold away the segment a replay would
    need: the just-written deterministic segment survives the merge."""
    out = str(tmp_path / "t")
    for i in range(5):
        M.write_segment(out, [{
            "part_id": i, "n_blocks": 1, "n_rows": 1, "raw_bytes": 1,
            "enc_bytes": 1, "codec_summary": "[]", "status": "committed",
            "snapshot": i, "file": f"f{i}.parquet", "file_row_groups": 1,
        }], f"seg-fb-{i:08d}.parquet", merge_limit=0)
        d = os.path.join(out, "manifest")
        assert f"seg-fb-{i:08d}.parquet" in os.listdir(d)
    # every row still readable after the rolling merges
    assert {int(r["part_id"]) for r in M.read_manifest_rows(out)} == set(range(5))


def test_segment_commit_info_prefers_recorded_offset(tmp_path):
    """The replayed part offset comes from the recorded part_offset column
    (exact even when the lowest hash partition encoded zero rows), not
    min(part_id)."""
    out = str(tmp_path / "t")
    M.write_segment(out, [{
        "part_id": 11, "n_blocks": 1, "n_rows": 1, "raw_bytes": 1,
        "enc_bytes": 1, "codec_summary": "[]", "status": "committed",
        "snapshot": 3, "file": "f11.parquet", "file_row_groups": 1,
        "part_offset": 10,  # partition 0 (part 10) was empty
    }], "seg-fb-00000007.parquet")
    off, snap = M.segment_commit_info(out, "seg-fb-00000007.parquet")
    assert (off, snap) == (10, 3)
    assert M.segment_commit_info(out, "seg-fb-00000099.parquet") == (None, None)


def test_unresolvable_snap_offset_fails_loudly(ds_dir, tmp_path):
    """A checkpointed snapshot offset that legacy (file=None) rows make
    unresolvable must raise — silently treating it as the empty set would
    advance the checkpoint past real data forever."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    out = str(tmp_path / "copy")
    shutil.copytree(ds_dir, out)
    fields = _infer_fields(out)
    r = SparrowIPCStreamReader({"path": out}, fields)
    assert "snap" in r.latestOffset()
    # out-of-band legacy row (no file mapping) lands mid-run
    legacy = pa.Table.from_pylist([{
        "part_id": 999, "n_blocks": 1, "n_rows": 1, "raw_bytes": 1,
        "enc_bytes": 1, "codec_summary": "[]", "status": "committed",
    }])
    pq.write_table(legacy, os.path.join(out, "manifest", "manifest.parquet"))
    # degraded capability: latestOffset falls back to the file-set form
    assert "seen" in r.latestOffset()
    with _pytest.raises(ValueError, match="can no longer be resolved"):
        r.partitions({"snap": 0}, {"snap": 2})


# ---------------------------------------------------------------------------
# Round-5: bounded plan-time manifest cost
# (column-pruned segment reads + state-token planning cache + snapshot-range
# segment skipping — the Iceberg manifest-list pruning analog; reference
# reads its Footer once, not per query: /root/reference/src/deserialize.cpp:
# 544-591)
# ---------------------------------------------------------------------------


def _fake_table(tmp_path, n_parts: int) -> str:
    """A manifest-only table: one merged segment of n_parts rows plus
    zero-byte block files (planning never opens block bodies — that is the
    round-4 footer trap's guarantee)."""
    out = str(tmp_path / f"fake{n_parts}")
    os.makedirs(os.path.join(out, "blocks"))
    rows = [
        {"part_id": i, "n_blocks": 2, "n_rows": 100, "raw_bytes": 1000,
         "enc_bytes": 100, "codec_summary": "[" + "x" * 64 + "]",
         "status": "committed", "snapshot": i // 1000, "file": f"part-{i:07d}.parquet",
         "file_row_groups": 2, "part_offset": 0}
        for i in range(n_parts)
    ]
    M.write_segment(out, rows, "seg-merged-all.parquet", merge_limit=10**9)
    for i in range(n_parts):
        open(os.path.join(out, "blocks", f"part-{i:07d}.parquet"), "wb").close()
    return out


def test_planning_read_is_column_pruned(ds_dir, monkeypatch):
    """The planning-side manifest read must never materialize the wide
    columns (codec_summary is a JSON string per row — at 10^7 parts the
    difference between tens of MB and GBs on the driver)."""
    import pyarrow.parquet as pq

    M._plan_cache.clear()
    seen: list = []
    orig = pq.read_table

    def spy(path, columns=None, **k):
        if os.sep + "manifest" + os.sep in str(path):
            seen.append(columns)
        return orig(path, columns=columns, **k)

    monkeypatch.setattr(pq, "read_table", spy)
    r = SparrowIPCReader({"path": ds_dir}, _infer_fields(ds_dir))
    assert r.partitions()
    assert seen, "planning did not read the manifest at all?"
    for cols in seen:
        assert cols is not None, "planning read ALL manifest columns"
        assert "codec_summary" not in cols

def test_planning_cache_rereads_nothing_on_unchanged_manifest(ds_dir, monkeypatch):
    """Steady-state planning over an unchanged table: the state-token cache
    answers without touching any parquet — repeat queries cost one
    directory scan, not an O(total parts) manifest read."""
    import pyarrow.parquet as pq

    M._plan_cache.clear()
    fields = _infer_fields(ds_dir)
    r = SparrowIPCReader({"path": ds_dir}, fields)
    parts_warm = r.partitions()

    def boom(*a, **k):
        raise AssertionError("planning re-read the manifest despite no change")

    import sparrow_ipc_spark.sources.datasource as D

    monkeypatch.setattr(pq, "read_table", boom)
    monkeypatch.setattr(pq, "read_schema", boom)
    monkeypatch.setattr(pq, "read_metadata", boom)
    monkeypatch.setattr(pq, "ParquetFile", boom)
    # dictionary load is reader-init work, not planning — stub it out
    monkeypatch.setattr(D, "load_dict_rows", lambda p: [])
    r2 = SparrowIPCReader({"path": ds_dir}, fields)
    assert [(p.file, p.rg_start, p.rg_end) for p in r2.partitions()] == \
        [(p.file, p.rg_start, p.rg_end) for p in parts_warm]


def test_planning_cache_invalidates_on_commit(ds_dir, tmp_path):
    import shutil

    out = str(tmp_path / "inv")
    shutil.copytree(ds_dir, out)
    M._plan_cache.clear()
    r = SparrowIPCReader({"path": out}, _infer_fields(out))
    n0 = len(r.partitions())
    # a new commit = one new segment + one new block file
    M.write_segment(out, [{
        "part_id": 9999, "n_blocks": 1, "n_rows": 1, "raw_bytes": 10,
        "enc_bytes": 5, "codec_summary": "[]", "status": "committed",
        "snapshot": 99, "file": "part-extra.parquet", "file_row_groups": 1,
        "part_offset": 9999}])
    src = _blocks_files(out)[0]
    shutil.copy(src, os.path.join(out, "blocks", "part-extra.parquet"))
    assert len(SparrowIPCReader({"path": out}, _infer_fields(out)).partitions()) > n0


def test_planning_wall_bounded_at_100k_parts(tmp_path):
    """The round-3/4 BENCH table priced a full manifest read at ~900 ms per
    100k parts, linear — ~1.5 min at the 10^7-part design point, per
    planned query.  The pruned+vectorized read must stay well under that,
    and the token-cached warm path must be scale-INDEPENDENT (a directory
    scan of ≤65 segment entries, whatever the part count)."""
    import time

    small, big = _fake_table(tmp_path, 200), _fake_table(tmp_path, 100_000)

    def plan_wall(out: str) -> float:
        r = SparrowIPCReader.__new__(SparrowIPCReader)
        r.path = out
        t0 = time.perf_counter()
        m = r._manifest_rg_map()
        assert m is not None and len(m) in (200, 100_000)
        return time.perf_counter() - t0

    M._plan_cache.clear()
    cold_small, cold_big = plan_wall(small), plan_wall(big)
    warm_small, warm_big = plan_wall(small), plan_wall(big)
    # cold: pruned read of 100k rows must be far from the ~900 ms/100k of
    # the dict-materializing read (generous 3x margin against CI noise)
    assert cold_big < 0.9, f"cold planning read too slow: {cold_big:.3f}s"
    # warm: token-cache hit, scale-independent (100-part and 100k-part
    # tables within 2x of each other, both effectively instant)
    assert warm_big < max(2 * warm_small, 0.05), (warm_small, warm_big)


def test_stream_planning_skips_disjoint_segments(tmp_path, monkeypatch):
    """new_files_between must not read data pages of segments whose
    footer-stat snapshot range is disjoint from the trigger's range — a
    micro-batch over a 10^7-part table reads only the segments its new
    snapshots live in."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "skip")
    for snap in range(4):
        M.write_segment(out, [{
            "part_id": snap, "n_blocks": 1, "n_rows": 1, "raw_bytes": 10,
            "enc_bytes": 5, "codec_summary": "[]", "status": "committed",
            "snapshot": snap, "file": f"part-{snap}.parquet",
            "file_row_groups": 1, "part_offset": snap}],
            seg_name=f"seg-snap-{snap}.parquet")
    M._plan_cache.clear()
    read_paths: list[str] = []
    orig = pq.read_table

    def spy(path, columns=None, **k):
        read_paths.append(os.path.basename(str(path)))
        return orig(path, columns=columns, **k)

    monkeypatch.setattr(pq, "read_table", spy)
    got = M.new_files_between(out, 2, 3)  # only snapshot 3 is new
    assert got == {"part-3.parquet"}
    assert read_paths == ["seg-snap-3.parquet"], read_paths
