"""Per-layer measurements for the traced run.

Driver-side layers come from the tracer's spans and the per-op job counts.
Worker-side layers cannot be wrapped from the Spark driver, so they are
measured two other ways: controlled Spark variants over the workload's
input (scan only, identity Arrow UDF, encode without the write), and an
in-process pass of the block and codec kernels over the same batches.
"""

from __future__ import annotations

import time

import pyarrow as pa

from perfbench import harness

COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
# Codecs the selector picks for transcript columns, each with the column it
# is timed on when no column picked it in this pass.
CODECS = {"dict": "role", "for_bitpack": "ts", "raw": "text", "rle": "conv_id"}
KERNEL_ROWS = 131_072


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _best_of(fn, reps: int = 2) -> float:
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return min(walls)


def variants(spark, src) -> dict:
    """Walls (s) of controlled variants over the workload's input: what
    scanning costs, what moving rows through Python with no work costs, and
    what encoding costs without the block write and commit."""
    from sparrow_ipc_spark.operators.encode_job import encode_transcripts

    def identity(batches):
        yield from batches

    blocks_df = encode_transcripts(spark, src, clustered=True)[0]
    return {
        "scan_noop_s": _best_of(lambda: _noop(src)),
        "arrow_identity_s": _best_of(
            lambda: _noop(src.mapInArrow(identity, src.schema))),
        "encode_noop_s": _best_of(lambda: _noop(blocks_df)),
    }


def _timed(fn):
    t = time.perf_counter_ns()
    out = fn()
    return out, time.perf_counter_ns() - t


def kernel_pass(src_path: str, max_rows: int = KERNEL_ROWS) -> dict:
    """In-process pass over up to ``max_rows`` input rows, batched like the
    encode job: block encode/decode, selector per column, the chosen codec
    kernels, and the general compression stage.  Every decoded column is
    compared with its input."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    from sparrow_ipc_spark.codecs import base, selector
    from sparrow_ipc_spark.operators import blocks
    from sparrow_ipc_spark.operators.decode_job import load_dict_values
    from sparrow_ipc_spark.operators.encode_job import (
        DEFAULT_DICT_COLS, TRANSCRIPT_FIELDS, dict_id_for, dict_row_for_values)
    from sparrow_ipc_spark.schema import TRANSCRIPTS_SCHEMA
    from sparrow_ipc_spark.session import DEFAULT_ARROW_BATCH_ROWS

    schema = to_arrow_schema(TRANSCRIPTS_SCHEMA)
    tbl = ds.dataset(src_path, format="parquet").head(max_rows)
    tbl = tbl.select(schema.names).cast(schema)
    batches = tbl.combine_chunks().to_batches(max_chunksize=DEFAULT_ARROW_BATCH_ROWS)
    dict_vals = {c: sorted(v for v in tbl.column(c).unique().to_pylist() if v is not None)
                 for c in DEFAULT_DICT_COLS}
    enc_ctx = {"global_dicts": {
        c: {"dict_id": dict_id_for(c), "values": pa.array(v, type=pa.string())}
        for c, v in dict_vals.items()}}
    dec_ctx = {"dict_values": load_dict_values(
        [dict_row_for_values(c, v, version=0, is_delta=False)
         for c, v in dict_vals.items()])}
    rows = tbl.num_rows
    out = {"rows": rows, "mismatches": 0}

    # block layer: the whole per-batch encode, then decode of each block
    enc_ns = dec_ns = raw_b = enc_b = 0
    for seq, batch in enumerate(batches):
        row, ns = _timed(lambda: blocks.encode_batch_arrow(
            batch, TRANSCRIPT_FIELDS, enc_ctx, 0, seq))
        enc_ns += ns
        raw_b += row["raw_bytes"]
        enc_b += row["enc_bytes"]
        back, ns = _timed(lambda: blocks.decode_block(row, dec_ctx))
        dec_ns += ns
        if not back.cast(batch.schema).equals(pa.Table.from_batches([batch])):
            out["mismatches"] += 1
    out["blocks.encode_ns_per_row"] = enc_ns / rows
    out["blocks.decode_ns_per_row"] = dec_ns / rows
    out["blocks.enc_bytes_per_raw_byte"] = enc_b / max(1, raw_b)

    # selector, codec kernels and general stage, column by column
    sel_ns = dict.fromkeys(COLUMNS, 0)
    trials = choices = 0
    codec_ns = {c: [0, 0, 0] for c in CODECS}  # encode ns, decode ns, rows
    chosen_by: dict[str, set] = {c: set() for c in CODECS}
    comp_ns = comp_bytes = kept = framed = 0
    by_name = dict(TRANSCRIPT_FIELDS)
    # the codecs assume zero-offset arrays; encode_batch_arrow canonicalizes
    # each column the same way before selecting
    arrays = [(name, blocks._canonical(batch.column(name),
                                       blocks.arrow_type_of(by_name[name])))
              for batch in batches for name in COLUMNS]
    for name, arr in arrays:
        ctx = {**enc_ctx, "col_name": name}
        choice, ns = _timed(lambda: selector.select_and_encode(arr, ctx))
        sel_ns[name] += ns
        trials += len(selector.candidates_for(arr, ctx))
        choices += 1
        if choice.encoded.codec in chosen_by:
            chosen_by[choice.encoded.codec].add(name)
        for _kind, payload in choice.encoded.buffers:
            (codec, _), ns = _timed(lambda: base.compress_buffer(payload))
            comp_ns += ns
            comp_bytes += len(payload)
            framed += 1
            kept += codec != "none"
    for codec, default_col in CODECS.items():
        cols = chosen_by[codec] or {default_col}
        for name, arr in arrays:
            if name not in cols:
                continue
            ctx = {**enc_ctx, "col_name": name}
            extra = next((e for c, e in selector.candidates_for(arr, ctx)
                          if c == codec), {})
            enc, ns = _timed(lambda: base.encode_column(codec, arr, {**ctx, **extra}))
            codec_ns[codec][0] += ns
            dtype = base.dtype_from_logical(by_name[name])
            back, ns = _timed(lambda: base.decode_column(
                codec, enc.meta, dict(enc.buffers), len(arr), dtype, dec_ctx))
            codec_ns[codec][1] += ns
            codec_ns[codec][2] += len(arr)
            if not back.cast(arr.type).equals(arr):
                out["mismatches"] += 1
    for name in COLUMNS:
        out[f"selector.ns_per_row.{name}"] = sel_ns[name] / rows
    out["selector.trials_per_choice"] = trials / max(1, choices)
    for codec, (e, d, n) in codec_ns.items():
        out[f"codec.{codec}.encode_ns_per_row"] = e / max(1, n)
        out[f"codec.{codec}.decode_ns_per_row"] = d / max(1, n)
    out["codecs.compress_ns_per_byte"] = comp_ns / max(1, comp_bytes)
    out["codecs.compress_kept_ratio"] = kept / max(1, framed)
    return out


def _ms(xs) -> float | None:
    m = harness.median(xs)
    return None if m is None else m * 1e3


def _sub(records, steps, key):
    return harness.median([r["sub"][s][key] for r in records for s in steps
                           if key in r["sub"].get(s, {})])


def per_layer(tracer, records, setup, host, var, kern, extra) -> dict:
    """Every per-layer metric of the traced run, by name."""
    m: dict[str, float | None] = {}
    m["boundary.scan_noop_s"] = var["scan_noop_s"]
    m["boundary.arrow_identity_s"] = var["arrow_identity_s"]
    for fn in ("build_global_dicts", "delta_dictionaries", "write_dict_rows"):
        m[f"encode_job.{fn}_ms"] = _ms(tracer.durations(f"encode_job.{fn}"))
    m["encode_job.encode_noop_s"] = var["encode_noop_s"]
    enc_self = [tracer.self_time(s) for s in tracer.spans
                if s["name"] == "step.encode" and s["end"] is not None]
    m["encode_job.block_write_s"] = harness.median(enc_self) - var["encode_noop_s"]
    for k, v in kern.items():
        if "." in k:
            m[k] = v
    for fn in ("lease", "read_rows", "vacuum", "rows_for_new_files",
               "write_segment", "write_cursor"):
        m[f"manifest.{fn}_ms"] = _ms(tracer.durations(f"manifest.{fn}"))
    m["manifest.segments_at_end"] = extra["segments_at_end"]
    m["manifest.bytes_written_per_commit"] = harness.median(
        [r["bytes_written"] for r in records if "bytes_written" in r])
    m["decode_job.plan_ms"] = _sub(records, ("point_read",), "plan_ms")
    m["decode_job.exec_ms"] = _sub(records, ("point_read",), "exec_ms")
    m["decode_job.blocks_kept_ratio"] = extra["blocks_kept_ratio"]
    ds_steps = ("pushdown_read", "fresh_read")
    m["datasource.plan_ms"] = _sub(records, ds_steps, "plan_ms")
    m["datasource.exec_ms"] = _sub(records, ds_steps, "exec_ms")
    m["datasource.partitions_per_read"] = extra["partitions_per_read"]
    m["verify.self_s"] = harness.median(
        [(r["steps"]["verify"] - r["steps"]["decode"]) / 1e3
         for r in records if "verify" in r["steps"] and "decode" in r["steps"]])
    from perfbench.workloads import STEPS

    for step in STEPS:
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.{k}_per_op.{step}"] = harness.median(
                [r["jobs"][step][k] for r in records if k in r["jobs"].get(step, {})])
    m["setup.session_s"] = setup["session_s"]
    m["setup.input_s"] = setup["input_s"]
    m["setup.warmup_s"] = setup["warmup_s"]
    m["host.steal_pct"] = host["steal_pct"]
    m["host.load1"] = host["load1"]
    m["host.calib_ms"] = host["calib_ms"]
    m["trace.overhead_pct"] = extra["overhead_pct"]
    return m
