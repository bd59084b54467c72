"""Block compaction: micro-batch appends leave small blocks; compaction
merges them without touching dictionaries, and the decoded table stays
bit-identical."""

from __future__ import annotations

from sparrow_ipc_spark.operators.compact import compact_blocks
from sparrow_ipc_spark.operators.decode_job import decode_dir
from sparrow_ipc_spark.operators.verify import roundtrip_report
from sparrow_ipc_spark.sources.transcripts import transcripts_df
from sparrow_ipc_spark.streaming.encode_stream import StreamingEncoder


def test_compact_merges_small_blocks(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compact"))
    df = transcripts_df(spark, n_convs=60, seed=42).cache()
    enc = StreamingEncoder(spark, out, n_parts=4)
    # 4 micro-batches × 4 parts → 16 small blocks
    for i in range(4):
        enc.process_batch(df.where(f"pmod(crc32(conv_id), 4) = {i}"), i)

    blocks_before = spark.read.parquet(f"{out}/blocks").count()
    dicts_before = sorted(
        (r["dict_id"], r["version"], r["n_values"])
        for r in spark.read.parquet(f"{out}/dictionaries").collect()
    )
    stats = compact_blocks(spark, out, small_rows=10_000, target_rows=65_536)
    assert stats["compacted"] == blocks_before
    assert stats["after"] < stats["before"]

    # dictionaries untouched — codes preserved
    dicts_after = sorted(
        (r["dict_id"], r["version"], r["n_values"])
        for r in spark.read.parquet(f"{out}/dictionaries").collect()
    )
    assert dicts_before == dicts_after

    rep = roundtrip_report(df, decode_dir(spark, out))
    assert rep["all_columns_identical"], rep
    assert rep["text_mismatches"] == 0

    # idempotent: nothing small remains at this threshold (single big block)
    again = compact_blocks(spark, out, small_rows=2, target_rows=65_536)
    assert again["compacted"] == 0


def test_compact_raises_on_broken_manifest(spark, tmp_path):
    """A truncated manifest segment must fail compaction loudly, before
    anything is staged or swapped — never collapse the table's snapshot
    lineage into the rewrite's."""
    import os

    import pytest

    from sparrow_ipc_spark.operators.encode_job import write_encoded

    out = str(tmp_path / "tbl")
    write_encoded(spark, transcripts_df(spark, n_convs=20, seed=1), out, n_parts=2)
    write_encoded(spark, transcripts_df(spark, n_convs=20, seed=2), out,
                  n_parts=2, append=True)
    man = os.path.join(out, "manifest")
    seg = os.path.join(man, sorted(f for f in os.listdir(man)
                                   if f.startswith("seg-"))[0])
    with open(seg, "r+b") as f:
        f.truncate(os.path.getsize(seg) // 2)
    blocks_before = sorted(os.listdir(os.path.join(out, "blocks")))
    man_before = sorted(os.listdir(man))
    with pytest.raises((OSError, ValueError)):
        compact_blocks(spark, out, small_rows=10_000)
    assert sorted(os.listdir(os.path.join(out, "blocks"))) == blocks_before
    assert sorted(os.listdir(man)) == man_before
