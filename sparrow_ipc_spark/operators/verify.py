"""Round-trip verification: decoded output must match source bit-identical
under stable (conv_id, turn_idx) ordering.

The Spark analog of the reference's raw-buffer / per-value comparison
(/root/reference/tests/test_de_serialization_with_files.cpp:226-264,
312-426), made distributed: per-column order-insensitive multiset hashes
(sum of xxhash64 over canonicalized values) plus a keyed join counting
per-turn text mismatches (the per-row invariant from BASELINE.json
``input_hint``).  No collect of data — only aggregated hashes reach the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _canon(col: str, dtype: str):
    c = F.col(col)
    if dtype.startswith("timestamp"):
        # NTZ-safe: session tz is UTC, so the cast is exact
        c = F.unix_micros(c.cast("timestamp"))
    # null-safe: hash the value with a null marker so null vs '' differ
    return F.xxhash64(F.lit(col), c.cast("string"), F.isnull(c).cast("int"))


def column_fingerprints(df: DataFrame) -> dict:
    """Order-insensitive per-column multiset fingerprints + row count."""
    return _fingerprint_pass(df, keyed=False)


def _hashed_rows(df: DataFrame, keyed: bool) -> DataFrame:
    """Narrow per-row hash projection: one 8-byte hash per column (plus
    the raw join keys when ``keyed``) — the exact-count mismatch join's
    input, at ~1/40th the width of the source rows."""
    cols = [_canon(f.name, f.dataType.simpleString()).alias(f"h_{f.name}")
            for f in df.schema.fields]
    keys = ["conv_id", "turn_idx"] if keyed else []
    return df.select(*keys, *cols)


def _fingerprint_pass(df: DataFrame, keyed: bool) -> dict:
    """ONE aggregate pass: row count, per-column multiset hash sums, and
    (when keyed) a ``(conv_id, turn_idx, text)``-tuple multiset hash sum
    ``kt`` — everything the clean-path verdict needs from one side in a
    single scan/decode."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for f in df.schema.fields:
        # decimal(38,0) accumulator: overflow-free under ANSI at any scale
        aggs.append(
            F.sum(_canon(f.name, f.dataType.simpleString())
                  .cast("decimal(38,0)")).alias(f"h_{f.name}")
        )
    if keyed:
        kt = F.xxhash64(
            F.col("conv_id"), F.col("turn_idx"),
            _canon("text", df.schema["text"].dataType.simpleString()))
        aggs.append(F.sum(kt.cast("decimal(38,0)")).alias("kt"))
    return df.agg(*aggs).collect()[0].asDict()


def roundtrip_report(src: DataFrame, dec: DataFrame) -> dict:
    """Full fidelity report: counts, per-column hash equality, text-join check.

    Each side is read in ONE aggregate pass (so the decode runs exactly
    once, with no persist): per-column multiset sums plus a keyed
    ``(conv_id, turn_idx, text)``-tuple multiset sum.  Equal keyed sums +
    equal row counts ⇒ the keyed text check passes with 0 mismatches —
    the same sum-of-xxhash64 verdict class as the per-column fingerprints
    (an order-insensitive multiset hash).  Only when the keyed sums
    DIFFER does the exact-count full-outer join run, so corrupted tables
    still report a precise ``text_mismatches`` count while the clean path
    (every bench/CI run) pays no join, no second pass and no cache.
    (History: persisting the WIDE decoded rows tripled verify wall; the
    round-6 narrow hash cache halved it; this single-pass shape removes
    the cache build and the always-on join as well — measured 3.85 s →
    ~1.6 s at sf0.1.)"""
    from concurrent.futures import ThreadPoolExecutor

    cols = [f.name for f in src.schema.fields]
    keyed = {"conv_id", "turn_idx", "text"} <= set(cols)
    # the two passes are independent jobs with disjoint bottlenecks (the
    # source side is a JVM parquet scan, the decode side is Python-worker
    # bound), so overlapping them recovers most of the shorter job's wall
    # (measured 1.83 → 1.55 s at sf0.1); Spark job submission is
    # thread-safe and the scheduler fills idle slots across both
    with ThreadPoolExecutor(2) as pool:
        f_src = pool.submit(_fingerprint_pass, src, keyed)
        f_dec = pool.submit(_fingerprint_pass, dec, keyed)
        fs, fd = f_src.result(), f_dec.result()
    col_ok = {c: fs[f"h_{c}"] == fd[f"h_{c}"] for c in cols}
    # per-turn text equality under (conv_id, turn_idx) keys — compare
    # 8-byte hashes, not the text itself (same verdict, ~40× less I/O).
    # GENERIC tables (the engine encodes arbitrary schemas) skip the
    # keyed check — the per-column multiset fingerprints above still
    # cover every column — instead of failing with UNRESOLVED_COLUMN.
    if keyed:
        if fs["kt"] == fd["kt"] and fs["n_rows"] == fd["n_rows"]:
            text_mismatches = 0
        else:
            hs = _hashed_rows(src, True).select(
                F.col("conv_id").alias("c_src"), F.col("turn_idx").alias("i_src"),
                F.col("h_text").alias("t_src"))
            hd = _hashed_rows(dec, True).select(
                F.col("conv_id").alias("c_dec"), F.col("turn_idx").alias("i_dec"),
                F.col("h_text").alias("t_dec"))
            # null-safe keys: a NULL-keyed row meets its decoded twin, as
            # it does in the fast path's keyed multiset sum
            on = (F.col("c_src").eqNullSafe(F.col("c_dec"))
                  & F.col("i_src").eqNullSafe(F.col("i_dec")))
            text_mismatches = (
                hs.join(hd, on, "full_outer")
                .where(~F.col("t_src").eqNullSafe(F.col("t_dec")))
                .count()
            )
    else:
        # skipped ≠ clean: None (plus the explicit flag) so a caller
        # auditing transcript-shaped data with a renamed column cannot
        # read an unrun check as a pass ("== 0" is False for None)
        text_mismatches = None
    return {
        "rows_src": fs["n_rows"],
        "rows_dec": fd["n_rows"],
        "columns_ok": col_ok,
        "all_columns_identical": all(col_ok.values()) and fs["n_rows"] == fd["n_rows"],
        "text_mismatches": text_mismatches,
        "text_check_skipped": text_mismatches is None,
    }
