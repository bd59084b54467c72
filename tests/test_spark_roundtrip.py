"""End-to-end Spark round trip: encode job → parquet → decode job →
bit-identical verification under (conv_id, turn_idx) order; resumability;
hot-conversation salting.  The Spark analog of the reference's
serialize→deserialize→compare tests (tests/test_serializer.cpp:34-621,
tests/test_de_serialization_with_files.cpp:226-426)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sparrow_ipc_spark.operators.decode_job import decode_dir
from sparrow_ipc_spark.operators.encode_job import write_encoded
from sparrow_ipc_spark.operators.verify import roundtrip_report
from sparrow_ipc_spark.sources.transcripts import transcripts_df


@pytest.fixture(scope="module")
def small_df(spark):
    return transcripts_df(spark, n_convs=60, seed=42).cache()


def test_roundtrip_bit_identical(spark, small_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc"))
    stats = write_encoded(spark, small_df, out, n_parts=4)
    assert stats["rows"] == small_df.count()
    assert stats["enc_bytes"] < stats["raw_bytes"]
    dec = decode_dir(spark, out)
    rep = roundtrip_report(small_df, dec)
    assert rep["all_columns_identical"], rep
    assert rep["text_mismatches"] == 0


def test_resume_skips_completed(spark, small_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc_resume"))
    write_encoded(spark, small_df, out, n_parts=4)
    stats2 = write_encoded(spark, small_df, out, n_parts=4, resume=True)
    # all 4 partitions already committed → nothing re-encoded
    assert stats2["skipped_parts"] == 4
    rep = roundtrip_report(small_df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep


def test_hot_conversation_salting(spark, tmp_path_factory):
    df = transcripts_df(spark, n_convs=6, seed=42, hot_every=2, hot_turns=3000)
    out = str(tmp_path_factory.mktemp("enc_hot"))
    write_encoded(spark, df, out, n_parts=4, salt_span=500)
    blocks = spark.read.parquet(f"{out}/blocks")
    # the hot conversations must span multiple partitions (salting works)
    n_parts_used = blocks.select("part_id").distinct().count()
    assert n_parts_used >= 3
    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep


def test_manifest_metrics(spark, small_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc_manifest"))
    write_encoded(spark, small_df, out, n_parts=4)
    man = spark.read.parquet(f"{out}/manifest")
    rows = man.collect()
    assert {r["status"] for r in rows} == {"committed"}
    assert sum(r["n_rows"] for r in rows) == small_df.count()
    assert all(r["enc_bytes"] > 0 for r in rows)


def test_crash_resume_completes_missing_partitions(spark, small_df, tmp_path_factory):
    """Kill-and-restart model (BASELINE resumability row): simulate a crash
    that committed only some partitions, then resume must encode exactly
    the missing ones and the union must round-trip bit-identical."""
    import pyspark.sql.functions as F

    out = str(tmp_path_factory.mktemp("enc_crash"))
    write_encoded(spark, small_df, out, n_parts=4)
    # simulate crash after partitions {0,1} committed: rewrite blocks +
    # manifest keeping only those part_ids
    kept_blocks = spark.read.parquet(f"{out}/blocks").where(F.col("part_id") < 2).cache()
    kept_manifest = spark.read.parquet(f"{out}/manifest").where(F.col("part_id") < 2).cache()
    kept_blocks.count(), kept_manifest.count()
    kept_blocks.write.mode("overwrite").parquet(f"{out}/blocks")
    kept_manifest.write.mode("overwrite").parquet(f"{out}/manifest")

    # resume with a DIFFERENT n_parts argument: the recorded _job.json
    # value must win — replaying pmod(hash, n) with the wrong modulus
    # silently loses/duplicates rows
    stats = write_encoded(spark, small_df, out, n_parts=16, resume=True)
    assert stats["skipped_parts"] == 2
    man = spark.read.parquet(f"{out}/manifest")
    assert man.select("part_id").distinct().count() == 4
    rep = roundtrip_report(small_df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep
    assert rep["text_mismatches"] == 0


def test_resume_crash_between_blocks_and_manifest(spark, small_df, tmp_path_factory):
    """A resume that appended its blocks but died before the manifest
    rewrite leaves those partitions twice; the deterministic blocks are
    byte-identical, so decode keeps one copy per (part, seq, crc)."""
    import os
    import shutil

    out = str(tmp_path_factory.mktemp("enc_dup"))
    write_encoded(spark, small_df, out, n_parts=4)
    # simulate the double-append: copy every committed block file
    bdir = f"{out}/blocks"
    for f in list(os.listdir(bdir)):
        if f.endswith(".parquet"):
            shutil.copy2(os.path.join(bdir, f), os.path.join(bdir, "dup-" + f))
    dec = decode_dir(spark, out)
    assert dec.count() == small_df.count()  # duplicates collapsed
    rep = roundtrip_report(small_df, dec)
    assert rep["all_columns_identical"], rep


def test_decode_dir_conv_filter_without_conv_column(spark, small_df, tmp_path_factory):
    """conv_id point lookup with a projection that EXCLUDES conv_id must
    still row-filter exactly (decode conv_id internally, then drop it)."""
    out = str(tmp_path_factory.mktemp("enc_convfilter"))
    write_encoded(spark, small_df, out, n_parts=4)
    target = small_df.select("conv_id").orderBy("conv_id").limit(1).collect()[0][0]
    got = decode_dir(spark, out, conv_id=target, columns=["text", "turn_idx"])
    assert got.columns == ["text", "turn_idx"]
    want = small_df.where(small_df["conv_id"] == target)
    assert got.count() == want.count() > 0


def test_roundtrip_report_counts_mismatches_exactly(spark, small_df):
    """The clean path skips the keyed join (multiset sums agree), but a
    corrupted decode side must still report the EXACT per-key mismatch
    count through the slow-path join: 3 altered texts + 1 deleted row +
    1 extra row = 5 keyed mismatches, and the text column fingerprint
    flips to unequal."""
    tampered = small_df.withColumn(
        "text",
        F.when(F.col("turn_idx") == 0, F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text")),
    )
    # concat(NULL, '!') stays NULL → only non-null texts actually change
    n_t0 = small_df.where("turn_idx = 0 AND text IS NOT NULL").count()
    rep = roundtrip_report(small_df, tampered)
    assert not rep["columns_ok"]["text"]
    assert not rep["all_columns_identical"]
    assert rep["text_mismatches"] == n_t0

    # row present on only one side counts as a mismatch (full-outer join)
    dropped = small_df.where("NOT (turn_idx = 1)")
    n_t1 = small_df.where("turn_idx = 1").count()
    rep2 = roundtrip_report(small_df, dropped)
    assert rep2["rows_src"] - rep2["rows_dec"] == n_t1
    assert rep2["text_mismatches"] == n_t1
    assert not rep2["all_columns_identical"]


def test_roundtrip_report_null_keys_match_on_the_slow_path(spark):
    """A bit-identical NULL-keyed row is no mismatch, also when another
    row's corruption sends the report down the slow-path join."""
    schema = "conv_id string, turn_idx int, text string"
    rows = [(None, 0, "same"), ("c1", 0, "a"), ("c1", 1, "b")]
    src = spark.createDataFrame(rows, schema)
    dec = spark.createDataFrame(rows[:2] + [("c1", 1, "corrupt")], schema)
    rep = roundtrip_report(src, dec)
    assert not rep["columns_ok"]["text"]
    assert rep["text_mismatches"] == 1
