"""Multi-writer commit arbiter: the CommitLease lock-lease protocol.

The reference is single-writer by construction (one stream_file_serializer
owns the file — /root/reference/include/sparrow_ipc/stream_file_serializer
.hpp:70-345); a 10^12-turn table appended by many concurrent jobs needs
the Iceberg-catalog-CAS analog these tests pin down: mutual exclusion,
crashed-holder takeover, loud loss detection, and two live Spark writers
interleaving without part-id/snapshot collisions.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import time

import pytest

from sparrow_ipc_spark.operators import encode_job as E
from sparrow_ipc_spark.sources import manifest as M


def _hammer(args):
    """Increment a shared counter file M times under the lease — lost
    updates prove a mutual-exclusion hole."""
    path, n = args
    for _ in range(n):
        lease = M.acquire_commit_lease(path, lease_s=30, timeout_s=60)
        try:
            p = os.path.join(path, "counter.json")
            cur = json.load(open(p)) if os.path.exists(p) else {"v": 0}
            time.sleep(0.001)  # widen the read-modify-write window
            cur["v"] += 1
            with open(p, "w") as f:
                json.dump(cur, f)
        finally:
            lease.release()
    return True


def test_lease_mutual_exclusion_across_processes(tmp_path):
    out = str(tmp_path / "tbl")
    os.makedirs(out)
    nproc, nper = 4, 25
    with mp.get_context("spawn").Pool(nproc) as pool:
        assert all(pool.map(_hammer, [(out, nper)] * nproc))
    assert json.load(open(os.path.join(out, "counter.json")))["v"] == nproc * nper
    assert not os.path.exists(os.path.join(out, "manifest", M.CommitLease.FILE))


def test_live_lease_blocks_second_acquirer(tmp_path):
    out = str(tmp_path / "tbl")
    a = M.acquire_commit_lease(out, lease_s=60)
    with pytest.raises(TimeoutError):
        M.acquire_commit_lease(out, lease_s=60, timeout_s=0.3, poll_s=0.05)
    a.release()
    b = M.acquire_commit_lease(out, timeout_s=1)  # released → instant
    b.release()


def test_acquirer_backs_off_from_a_lease_mid_renew(tmp_path):
    """A renew renames the live lease to a ``.renew-`` claim for a moment,
    leaving the path empty: a waiter whose O_EXCL lands in that window
    must hand the path back, not take the live lease (and fail the
    holder's commit)."""
    out = str(tmp_path / "tbl")
    a = M.acquire_commit_lease(out, lease_s=60)
    claim = a._file + ".renew-test"
    os.rename(a._file, claim)  # frozen mid-renew
    with pytest.raises(TimeoutError):
        M.acquire_commit_lease(out, lease_s=60, timeout_s=0.3, poll_s=0.05)
    os.link(claim, a._file)  # the renew restores its lease
    os.remove(claim)
    a.assert_owned()
    a.release()
    M.acquire_commit_lease(out, timeout_s=1).release()


def test_expired_lease_taken_over_and_loser_fails_loudly(tmp_path):
    out = str(tmp_path / "tbl")
    a = M.acquire_commit_lease(out, lease_s=0.2)
    time.sleep(0.4)
    b = M.acquire_commit_lease(out, lease_s=60, timeout_s=5)
    # the loser must detect the theft BEFORE publishing, never after
    with pytest.raises(M.CommitLeaseError):
        a.assert_owned()
    b.assert_owned()  # the thief is the rightful committer
    b.release()


def test_unparseable_lease_file_ages_out(tmp_path):
    """A writer that died between O_EXCL create and payload write leaves
    an empty lease file — it must age out via mtime, not deadlock every
    future committer."""
    out = str(tmp_path / "tbl")
    d = M.man_dir(out)
    os.makedirs(d)
    lf = os.path.join(d, M.CommitLease.FILE)
    open(lf, "wb").close()
    old = time.time() - 3600
    os.utime(lf, (old, old))
    lease = M.acquire_commit_lease(out, lease_s=1.0, timeout_s=5)
    lease.assert_owned()
    lease.release()


def test_uncontended_job_outliving_lease_still_renews(tmp_path):
    """Expiry only bites under contention: with no thief, a slow job's
    renew succeeds (the file keeps its owner token past expiry)."""
    out = str(tmp_path / "tbl")
    a = M.acquire_commit_lease(out, lease_s=0.1)
    time.sleep(0.3)
    a.assert_owned()  # nobody took it → still ours
    a.release()


def test_two_interleaved_spark_writers_no_collision(spark, tmp_path):
    """Two live writers appending CONCURRENTLY to one table: the lease
    serializes their commits, so no part-id or snapshot collision, every
    row readable, cursor consistent with the union of both commits."""
    from concurrent.futures import ThreadPoolExecutor

    from sparrow_ipc_spark.operators.decode_job import decode_dir
    from sparrow_ipc_spark.operators.encode_job import write_encoded
    from sparrow_ipc_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "tbl")
    base = transcripts_df(spark, n_convs=30, seed=1).cache()
    write_encoded(spark, base, out, n_parts=2)
    add1 = transcripts_df(spark, n_convs=10, seed=2).cache()
    add2 = transcripts_df(spark, n_convs=10, seed=3).cache()
    add1.count(), add2.count()

    def appender(df):
        return write_encoded(spark, df, out, n_parts=2, append=True)

    with ThreadPoolExecutor(2) as ex:
        f1 = ex.submit(appender, add1)
        f2 = ex.submit(appender, add2)
        s1, s2 = f1.result(timeout=300), f2.result(timeout=300)
    rows = M.read_manifest_rows(out)
    part_files = [(r["part_id"], r["file"]) for r in rows]
    assert len(part_files) == len(set(part_files))
    # each append got its own snapshot (serialized, not both prev+1)
    snaps = sorted({int(r["snapshot"]) for r in rows})
    assert snaps == [0, 1, 2]
    assert {s1["snapshot"], s2["snapshot"]} == {1, 2}
    cur = M.read_cursor(out)
    assert cur is not None
    assert cur["max_part_id"] == max(int(r["part_id"]) for r in rows)
    assert cur["snapshot"] == 2
    total = base.count() + add1.count() + add2.count()
    assert decode_dir(spark, out).count() == total


_DS_APPENDER = """
import sys
from sparrow_ipc_spark import get_spark
from sparrow_ipc_spark.sources.datasource import SparrowIPCDataSource

out, lo, hi = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
spark = get_spark(master="local[2]")
spark.dataSource.register(SparrowIPCDataSource)
(spark.range(lo, hi)
 .selectExpr("cast(id as string) as conv_id", "concat('t', id) as text")
 .repartition(2).write.format("sparrow_ipc").mode("append").save(out))
print("APPEND-OK")
"""


def test_two_interleaved_ds_writer_processes_no_collision(spark, tmp_path):
    """Two genuinely separate writer PROCESSES (own Spark sessions)
    appending through the DataSource surface concurrently — the
    filesystem lease is the only thing arbitrating them."""
    import subprocess
    import sys as _sys

    from sparrow_ipc_spark.sources.datasource import SparrowIPCDataSource, read_encoded

    out = str(tmp_path / "tbl")
    spark.dataSource.register(SparrowIPCDataSource)
    ev = spark.range(0, 400).selectExpr("cast(id as string) as conv_id",
                                        "concat('t', id) as text")
    ev.repartition(2).write.format("sparrow_ipc").mode("overwrite").save(out)

    script = str(tmp_path / "appender.py")
    with open(script, "w") as f:
        f.write(_DS_APPENDER)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ,
               PYTHONPATH=repo + os.pathsep + os.environ.get("PYTHONPATH", ""))
    procs = [subprocess.Popen([_sys.executable, script, out, str(lo), str(hi)],
                              stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              cwd=repo, env=env)
             for lo, hi in ((400, 600), (600, 800))]
    outs = [p.communicate(timeout=300) for p in procs]
    for p, (so, se) in zip(procs, outs):
        assert p.returncode == 0, se.decode()[-2000:]
        assert b"APPEND-OK" in so
    rows = M.read_manifest_rows(out)
    ids = [int(r["part_id"]) for r in rows]
    assert len(ids) == len(set(ids))
    assert sorted({int(r["snapshot"]) for r in rows}) == [0, 1, 2]
    assert read_encoded(spark, out).count() == 800


def test_heartbeat_keeps_short_lease_alive(tmp_path):
    """A slow job with a heartbeat never loses its lease to a contender
    (expiry only ever means a crashed/hung holder); after release the
    contender acquires immediately."""
    out = str(tmp_path / "tbl")
    a = M.acquire_commit_lease(out, lease_s=0.3)
    a.start_heartbeat(interval_s=0.05)
    time.sleep(0.8)  # well past lease_s: heartbeat must have renewed
    with pytest.raises(TimeoutError):
        M.acquire_commit_lease(out, lease_s=0.3, timeout_s=0.8)
    a.assert_owned()
    a.release()
    b = M.acquire_commit_lease(out, lease_s=0.3, timeout_s=5)
    b.release()


def test_takeover_never_destroys_fresh_lease(tmp_path):
    """Two contenders racing an expired lease: content verification after
    the one-winner rename means the loser can never remove the winner's
    FRESH lease — at most one holder survives the storm."""
    import threading

    out = str(tmp_path / "tbl")
    M.acquire_commit_lease(out, lease_s=0.1)  # crashed holder, never released
    time.sleep(0.3)
    got: list = []

    def contend():
        try:
            lease = M.acquire_commit_lease(out, lease_s=60, timeout_s=15)
            got.append(lease)
        except TimeoutError:
            pass

    ts = [threading.Thread(target=contend) for _ in range(6)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(got) >= 1, "no contender ever acquired the expired lease"
    # the commit-safety invariant: exactly ONE contender still owns at
    # publish time (assert_owned), no matter how the takeover raced
    owned = []
    for lease in got:
        try:
            lease.assert_owned()
            owned.append(lease)
        except M.CommitLeaseError:
            pass
    assert len(owned) == 1, f"{len(owned)} contenders would publish"
    owned[0].release()


def test_create_or_append_on_fresh_dir(spark, tmp_path):
    """append=True / resume=True on a brand-new path must perform the
    initial write: the lease pre-creates manifest/, so committed-ness is
    manifest CONTENT, never directory existence."""
    from sparrow_ipc_spark.operators.decode_job import decode_dir
    from sparrow_ipc_spark.operators.encode_job import write_encoded
    from sparrow_ipc_spark.sources.transcripts import transcripts_df

    df = transcripts_df(spark, n_convs=5, seed=1).cache()
    n = df.count()
    out = str(tmp_path / "fresh_append")
    stats = write_encoded(spark, df, out, n_parts=2, append=True)
    assert stats["rows"] == n
    stats2 = write_encoded(spark, df, out, n_parts=2, append=True)
    assert stats2["rows"] == 2 * n
    assert decode_dir(spark, out).count() == 2 * n
    out2 = str(tmp_path / "fresh_resume")
    stats3 = write_encoded(spark, df, out2, n_parts=2, resume=True)
    assert stats3["rows"] == n and stats3.get("skipped_parts", 0) == 0


def test_vacuum_orphan_blocks_guards(tmp_path, spark):
    """The shared vacuum helper refuses to delete when the committed map
    is inconsistent with disk (stale map must never drive deletes)."""
    from sparrow_ipc_spark.operators.encode_job import write_encoded
    from sparrow_ipc_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "tbl")
    df = transcripts_df(spark, n_convs=4, seed=3)
    write_encoded(spark, df, out, n_parts=2)
    bd = os.path.join(out, "blocks")
    # an orphan (unmanifested) file is vacuumed
    orphan = os.path.join(bd, "zz-orphan.parquet")
    committed = [f for f in os.listdir(bd) if f.endswith(".parquet")]
    import shutil
    shutil.copy(os.path.join(bd, committed[0]), orphan)
    assert M.vacuum_orphan_blocks(out) == 1
    assert not os.path.exists(orphan)
    # a MISSING committed file makes the map inconsistent: no deletes
    os.rename(os.path.join(bd, committed[0]), os.path.join(bd, "renamed.parquet"))
    assert M.vacuum_orphan_blocks(out) == 0
    assert os.path.exists(os.path.join(bd, "renamed.parquet"))


def _mk_rows(part_ids, snapshot):
    return [
        {"part_id": int(p), "n_blocks": 1, "n_rows": 10, "raw_bytes": 100,
         "enc_bytes": 50, "codec_summary": "{}", "status": "committed",
         "snapshot": int(snapshot), "file": f"f{p}.parquet",
         "file_row_groups": 1}
        for p in part_ids
    ]


def test_write_segment_cas_refuses_conflicting_snapshot(tmp_path):
    """The directory-level CAS: an append commit whose minted snapshot is
    already present (or older than) the directory must be refused — the
    signature of a committer that stalled past its lease while a takeover
    published the same snapshot number."""
    out = str(tmp_path / "tbl")
    # B (the takeover) commits snapshot 1
    M.write_segment(out, _mk_rows([0, 1], 1), expect_new_snapshot=1)
    # A resumes with the SAME minted snapshot: refused, nothing published
    segs_before = sorted(os.listdir(os.path.join(out, "manifest")))
    with pytest.raises(M.CommitLeaseError, match="conflict"):
        M.write_segment(out, _mk_rows([0, 1], 1), expect_new_snapshot=1)
    assert sorted(os.listdir(os.path.join(out, "manifest"))) == segs_before
    # a correctly re-minted snapshot (committed max + 1) goes through
    M.write_segment(out, _mk_rows([2], 2), expect_new_snapshot=2)
    # replay path: a deterministic segment that already exists re-publishes
    # its recorded (old) snapshot without tripping the guard
    M.write_segment(out, _mk_rows([3], 3), seg_name="seg-det.parquet",
                    expect_new_snapshot=3)
    M.write_segment(out, _mk_rows([3], 3), seg_name="seg-det.parquet",
                    expect_new_snapshot=3)


def test_write_cursor_reconciles_against_directory(tmp_path):
    """A stale committer's cursor write cannot hide newer committed state:
    write_cursor reconciles snapshot/max_part_id against directory footer
    stats, so the published watermarks cover every segment on disk."""
    out = str(tmp_path / "tbl")
    M.write_segment(out, _mk_rows([0, 1], 1))
    M.write_segment(out, _mk_rows([2, 3], 2))  # the takeover's newer commit
    # the stale writer publishes watermarks from its in-memory state
    M.write_cursor(out, 1, 1)
    cur = M.read_cursor(out)
    assert cur is not None
    assert cur["snapshot"] == 2 and cur["max_part_id"] == 3
    assert M.committed_state(out) == (2, 3)


def test_renew_after_stall_detects_fresh_foreign_lease(tmp_path):
    """Simulates the stall window: the holder's last read saw its own
    unexpired payload, but by the time the refresh runs a contender has
    O_EXCL-created a FRESH lease.  The claim-and-verify path must detect
    the foreign owner, restore the contender's lease intact, and raise —
    a read-then-replace fast path would silently clobber it."""
    out = str(tmp_path / "tbl")
    a = M.acquire_commit_lease(out, lease_s=60)
    # contender B's fresh lease lands at the path (as after a takeover)
    b_payload = {"owner": "B-owner", "pid": 1, "renewed": time.time(),
                 "lease_s": 60}
    with open(a._file, "w") as f:
        json.dump(b_payload, f)
    # mimic the stalled holder: its in-memory read still says "mine,
    # unexpired" — force that view past the ownership pre-check
    stale_view = a._payload()
    a._read = lambda: stale_view  # type: ignore[method-assign]
    with pytest.raises(M.CommitLeaseError):
        a.renew()
    cur = json.load(open(a._file))
    assert cur["owner"] == "B-owner"  # B's lease survived intact


def test_release_after_stall_preserves_foreign_lease(tmp_path):
    out = str(tmp_path / "tbl")
    a = M.acquire_commit_lease(out, lease_s=60)
    b_payload = {"owner": "B-owner", "pid": 1, "renewed": time.time(),
                 "lease_s": 60}
    with open(a._file, "w") as f:
        json.dump(b_payload, f)
    stale_view = a._payload()
    a._read = lambda: stale_view  # type: ignore[method-assign]
    a.release()
    cur = json.load(open(a._file))
    assert cur["owner"] == "B-owner"


# -- crash matrix over manifest.commit -------------------------------------
#
# Every writer publishes through manifest.commit, which calls
# write_segment and then write_cursor through the module.  A fault raised
# before the segment publishes, or between segment and cursor, must leave
# a table that both readers decode as either the pre-commit or the
# post-commit table; the writer's retry (or foreachBatch replay) must then
# yield exactly the post-commit table.

def _fp(df) -> dict:
    from sparrow_ipc_spark.operators.verify import _fingerprint_pass

    return _fingerprint_pass(df, keyed=True)


def _readers_fp(spark, out) -> list[dict]:
    from sparrow_ipc_spark.operators.decode_job import decode_dir
    from sparrow_ipc_spark.sources.datasource import read_encoded

    return [_fp(decode_dir(spark, out)), _fp(read_encoded(spark, out))]


class _Injected(RuntimeError):
    pass


def _crash_append(spark, out, base, inc):
    from sparrow_ipc_spark.operators.encode_job import write_encoded

    write_encoded(spark, base, out, n_parts=2)
    snap = M.committed_state(out)[0]

    def run():
        write_encoded(spark, inc, out, n_parts=2, append=True)

    def retry():
        # the caller cannot tell whether the raising append landed: it
        # re-runs it iff the committed snapshot did not advance
        if M.committed_state(out)[0] == snap:
            run()

    return run, retry, base.unionByName(inc)


def _crash_stream(spark, out, base, inc):
    from sparrow_ipc_spark.streaming.encode_stream import StreamingEncoder

    StreamingEncoder(spark, out, n_parts=2).process_batch(base, 0)

    def run():
        StreamingEncoder(spark, out, n_parts=2).process_batch(inc, 1)

    # foreachBatch replays the batch whose commit raised (after a restart)
    return run, run, base.unionByName(inc)


def _crash_compact(spark, out, base, inc):
    from sparrow_ipc_spark.operators.compact import compact_blocks
    from sparrow_ipc_spark.operators.encode_job import write_encoded

    write_encoded(spark, base, out, n_parts=2)
    write_encoded(spark, inc, out, n_parts=2, append=True)

    def run():
        compact_blocks(spark, out, small_rows=10_000)

    return run, run, base.unionByName(inc)


@pytest.mark.parametrize("fault", ["write_segment", "write_cursor"])
@pytest.mark.parametrize("writer", ["append", "stream", "compact"])
def test_commit_crash_matrix(spark, tmp_path, monkeypatch, writer, fault):
    from sparrow_ipc_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "tbl")
    base = transcripts_df(spark, n_convs=12, seed=1).cache()
    inc = transcripts_df(spark, n_convs=8, seed=2).cache()
    setup = {"append": _crash_append, "stream": _crash_stream,
             "compact": _crash_compact}[writer]
    run, retry, post_df = setup(spark, out, base, inc)
    pre, post = _readers_fp(spark, out)[0], _fp(post_df)

    def boom(*a, **k):
        raise _Injected(fault)

    with monkeypatch.context() as m:
        m.setattr(M, fault, boom)
        with pytest.raises(_Injected):
            run()
    for got in _readers_fp(spark, out):
        assert got in (pre, post), (writer, fault, got, pre, post)
    retry()
    assert _readers_fp(spark, out) == [post, post], (writer, fault)
    assert not os.path.exists(os.path.join(out, "manifest", M.CommitLease.FILE))


@pytest.mark.parametrize("fault", [(E, "write_dict_rows"), (M, "write_segment"),
                                   (M, "write_cursor")],
                         ids=["write_dict_rows", "write_segment", "write_cursor"])
def test_overwrite_crash_then_resume(spark, tmp_path, monkeypatch, fault):
    """An overwrite that crashes anywhere past its start must not leave the
    old table's manifest behind: a resume then writes exactly the new
    table, with a manifest naming exactly the block files on disk."""
    from sparrow_ipc_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "tbl")
    old = transcripts_df(spark, n_convs=12, seed=1).cache()
    new = transcripts_df(spark, n_convs=8, seed=2).cache()
    E.write_encoded(spark, old, out, n_parts=2)
    mod, attr = fault

    def boom(*a, **k):
        raise _Injected(attr)

    with monkeypatch.context() as m:
        m.setattr(mod, attr, boom)
        with pytest.raises(_Injected):
            E.write_encoded(spark, new, out, n_parts=3)
    E.write_encoded(spark, new, out, n_parts=3, resume=True)
    rows = M.read_manifest_rows(out)
    disk = {f for f in os.listdir(os.path.join(out, "blocks"))
            if f.endswith(".parquet")}
    assert {r["file"] for r in rows} == disk
    assert sum(int(r["n_rows"]) for r in rows) == new.count()
    assert _readers_fp(spark, out) == [_fp(new), _fp(new)]


@pytest.mark.parametrize("fault", ["write_segment", "write_cursor"])
def test_stream_replay_with_fewer_files_drops_extras(spark, tmp_path,
                                                     monkeypatch, fault):
    """A replayed micro-batch that publishes FEWER block files than its
    crashed attempt (here: restarted with fewer partitions) must not leave
    the attempt's extra ``fb-<id>-*`` files behind — the DataSource reader
    decodes every file on disk and would double their rows."""
    from sparrow_ipc_spark.sources.transcripts import transcripts_df
    from sparrow_ipc_spark.streaming.encode_stream import StreamingEncoder

    out = str(tmp_path / "tbl")
    base = transcripts_df(spark, n_convs=12, seed=1).cache()
    inc = transcripts_df(spark, n_convs=24, seed=2).cache()
    StreamingEncoder(spark, out, n_parts=2).process_batch(base, 0)

    def boom(*a, **k):
        raise _Injected(fault)

    with monkeypatch.context() as m:
        m.setattr(M, fault, boom)
        with pytest.raises(_Injected):
            StreamingEncoder(spark, out, n_parts=4).process_batch(inc, 1)
    crashed = {f for f in os.listdir(os.path.join(out, "blocks"))
               if f.startswith("fb-00000001-")}
    StreamingEncoder(spark, out, n_parts=2).process_batch(inc, 1)
    disk = {f for f in os.listdir(os.path.join(out, "blocks"))
            if f.endswith(".parquet")}
    assert len(crashed) > len({f for f in disk if f.startswith("fb-00000001-")})
    assert {r["file"] for r in M.read_manifest_rows(out)} == disk
    post = _fp(base.unionByName(inc))
    assert _readers_fp(spark, out) == [post, post]
