"""Incremental (streaming) encode: Structured Streaming → encoded blocks.

The analog of the reference's stateful streaming serializer
(include/sparrow_ipc/serializer.hpp:36-263): schema fixed up front,
dictionaries emitted before the data batches that reference them, new
dictionary values arriving mid-stream emitted as DELTA dictionary batches
(Message.fbs:129-131 ``isDelta``; merge semantics
/root/reference/src/dictionary_cache.cpp:20-111), then per-micro-batch
record batches appended to the block table.

Driver-side dictionary state (known values + next version per column) is
the dictionary_tracker analog (/root/reference/src/dictionary_tracker.cpp:
233-307): values are assigned codes exactly once, in first-seen-sorted
order, and never re-emitted.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from sparrow_ipc_spark.operators.encode_job import (
    DEFAULT_DICT_COLS,
    DICT_MAX_GLOBAL_DISTINCT,
    gated_distinct,
    dict_id_for,
    dict_row_for_values,
    encode_transcripts,
    load_dict_rows,
    payload_from_dict_rows,
)


class StreamingEncoder:
    """foreachBatch sink: incremental encode with delta dictionaries."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 dict_cols=DEFAULT_DICT_COLS, n_parts: int | None = None):
        from sparrow_ipc_spark.operators.encode_job import require_local_dir

        self.spark = spark
        self.out_dir = out_dir = require_local_dir(out_dir)
        self.dict_cols = tuple(dict_cols)
        self.n_parts = n_parts
        # dictionary_tracker state: col → ordered known values (+ set)
        self._values: dict[str, list] = {c: [] for c in self.dict_cols}
        self._known: dict[str, set] = {c: set() for c in self.dict_cols}
        # columns demoted to block-local dictionaries after blowing the
        # cardinality ceiling — never re-promoted (their codes would be
        # incomplete), never driven through collect_set again
        self._demoted: set[str] = set()
        self._version = 0
        # RESTART RECOVERY: rebuild tracker state from committed dictionary
        # rows.  A fresh tracker after a stream restart would re-emit
        # version-0 rows for the same dict_id and assign codes that collide
        # with the committed assignment — decode merges rows by version, so
        # post-restart blocks would silently decode to WRONG values.
        rows = load_dict_rows(out_dir)
        if rows:
            for c, entry in payload_from_dict_rows(rows).items():
                if c in self._values:
                    self._values[c] = list(entry["values"])
                    self._known[c] = set(entry["values"])
            self._version = max(int(r.get("version", 0) or 0) for r in rows) + 1

    def _update_dictionaries(self, df: DataFrame) -> list[dict]:
        """Emit-once protocol: detect new values, emit one delta row per
        column with additions; codes extend the existing assignment.

        Cardinality-gated like the batch path (``encode_job.gated_distinct``
        on the BATCH's sketch, which bounds the collect_set the driver is
        about to pull): a mis-listed high-cardinality column demotes to
        block-local dictionaries instead of pulling an unbounded distinct
        set into the driver every micro-batch.  Union growth past the
        ceiling is caught exactly after the collect; counting known values
        in the gate would demote stable vocabularies that merely
        re-observe themselves."""
        cols = [c for c in self.dict_cols if c not in self._demoted]
        if not cols:
            return []
        eligible, agg = gated_distinct(df, cols, DICT_MAX_GLOBAL_DISTINCT)
        self._demoted.update(c for c in cols if c not in eligible)
        rows = []
        for c in eligible:
            fresh = sorted(v for v in agg[c] if v is not None and v not in self._known[c])
            if not fresh:
                continue
            if len(self._values[c]) + len(fresh) > DICT_MAX_GLOBAL_DISTINCT:
                self._demoted.add(c)  # sketch under-estimated: still degrade
                continue
            is_delta = self._version > 0 or bool(self._values[c])
            rows.append(dict_row_for_values(c, fresh, version=self._version, is_delta=is_delta))
            self._values[c].extend(fresh)
            self._known[c].update(fresh)
        if rows:
            self._version += 1
        return rows

    def payload(self) -> dict:
        # excluded from the payload: columns with no emitted values (blocks
        # must never reference a dict_id with no dictionary rows) AND
        # demoted columns — a demoted column's frozen global dict would
        # otherwise shadow the selector's dict_local candidate and force
        # every block containing an unseen value down to raw/fsst, exactly
        # on the high-cardinality columns demotion exists for.  Old blocks
        # that referenced the global dict before demotion still decode
        # against the committed dictionary rows.
        return {
            c: {"dict_id": dict_id_for(c), "values": list(self._values[c])}
            for c in self.dict_cols
            if self._values[c] and c not in self._demoted
        }

    def process_batch(self, df: DataFrame, batch_id: int) -> None:
        from sparrow_ipc_spark.sources.manifest import acquire_commit_lease

        # each micro-batch commits under the table lease: part offsets and
        # snapshots derive from committed state, so a concurrent batch
        # writer on the same table serializes instead of colliding
        lease = acquire_commit_lease(self.out_dir)
        lease.start_heartbeat()  # a big replay batch can outlive the lease
        try:
            self._process_batch_under_lease(df, batch_id, lease)
        finally:
            lease.release()

    def _process_batch_under_lease(self, df: DataFrame, batch_id: int,
                                   lease) -> None:
        from sparrow_ipc_spark.sources import manifest as M

        dict_rows = self._update_dictionaries(df)
        if dict_rows:
            # dictionaries land before the blocks that reference them
            from sparrow_ipc_spark.operators.encode_job import write_dict_rows

            write_dict_rows(self.out_dir, dict_rows, append=True)
        # part ids are offset past the committed table so micro-batches
        # never collide — without this, snapshot time travel over a
        # streamed dir would resolve a part id to EVERY batch's rows.  A
        # foreachBatch replay (crash after this batch's commit but before
        # the checkpoint recorded it) reuses the crashed attempt's offset
        # and snapshot from its deterministic segment, so the re-encode is
        # byte-identical.
        tag = f"fb-{batch_id:08d}"
        snap, part_offset = M.next_commit(self.out_dir, f"seg-{tag}.parquet")
        blocks_df, _, _ = encode_transcripts(
            self.spark, df, n_parts=self.n_parts, dict_cols=self.dict_cols,
            dict_payload=self.payload(), part_offset=part_offset,
        )
        # staged, then published under deterministic batch-scoped names
        # (the DataSource stream writer's scheme): a replay overwrites the
        # crashed attempt's files, and the commit drops any extra ones
        staging = f"{self.out_dir}/_staging_{tag}"
        blocks_df.write.mode("overwrite").option("compression", "snappy").parquet(staging)  # bodies pre-zstd'd
        bd = f"{self.out_dir}/blocks"
        os.makedirs(bd, exist_ok=True)
        staged = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
        names = [f"{tag}-{i:05d}.parquet" for i in range(len(staged))]
        for f, name in zip(staged, names):
            os.replace(os.path.join(staging, f), os.path.join(bd, name))
        shutil.rmtree(staging, ignore_errors=True)
        M.commit(self.out_dir, lease, names, snap,
                 part_offset=part_offset, seg_name=f"seg-{tag}.parquet")


def encode_stream(spark: SparkSession, stream_df: DataFrame, out_dir: str,
                  checkpoint_dir: str, dict_cols=DEFAULT_DICT_COLS,
                  trigger_once: bool = False):
    """Attach the streaming encoder to a streaming transcripts DataFrame."""
    enc = StreamingEncoder(spark, out_dir, dict_cols)
    writer = stream_df.writeStream.foreachBatch(enc.process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start(), enc
