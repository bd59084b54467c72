"""Round-trip the shapes of the reference's flag-preservation fixtures.

The reference's tests read two Arrow integration-format JSON fixtures
(reference tests/data/map_array_sorted.json and ordered_dictionary.json,
used by tests/test_map_keys_sorted.cpp:28-117 and
test_ordered_dictionary.cpp).  The same shapes are built here inline — a
nullable ``map<string,int32>`` with ``keysSorted`` set, a null map slot and
a null value, and an ordered string dictionary column with nulls — pushed
through the full selector→framing→decode pipeline, and checked for logical
bit-identity plus the flags the reference asserts (map keysSorted
preserved; dictionary values decode in order)."""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

from sparrow_ipc_spark.codecs import base, selector

# map<string,int32> keysSorted=true: 4 slots, slot 2 null, one null value
MAP_VALIDITY = [1, 1, 0, 1]
MAP_OFFSETS = [0, 2, 3, 3, 6]
MAP_KEYS = ["a", "b", "a", "a", "b", "c"]
MAP_VALUES = [1, 2, 3, 4, 0, 6]
MAP_VALUE_VALIDITY = [1, 1, 1, 1, 0, 1]

# ordered dictionary (isOrdered=true): values in sorted order, indices with
# two null slots
DICT_VALUES = ["apple", "banana", "cherry", "date"]
DICT_INDICES = [0, 3, 1, 0, 2, 3, 0, 1]
DICT_VALIDITY = [1, 1, 0, 1, 1, 0, 1, 1]


def _bitmap(validity: list[int]) -> pa.Buffer:
    return pa.py_buffer(np.packbits(np.array(validity, bool), bitorder="little").tobytes())


def _full_roundtrip(arr: pa.Array) -> pa.Array:
    choice = selector.select_and_encode(arr, {"col_name": "c"})
    enc = choice.encoded
    meta = json.loads(json.dumps(enc.meta))
    bufs = {}
    for (kind, _p), (_, gcodec, framed) in zip(enc.buffers, choice.framed):
        bufs[kind] = base.decompress_buffer(framed, gcodec)
    return base.decode_column(enc.codec, meta, bufs, len(arr), arr.type, {})


def test_map_keys_sorted_fixture_roundtrip():
    key_arr = pa.array(MAP_KEYS, type=pa.string())
    val_arr = pa.array(
        [v if m else None for v, m in zip(MAP_VALUES, MAP_VALUE_VALIDITY)],
        type=pa.int32(),
    )
    mt = pa.map_(pa.string(), pa.int32(), keys_sorted=True)
    entries = pa.StructArray.from_arrays(
        [key_arr, val_arr],
        fields=[pa.field("key", pa.string(), nullable=False),
                pa.field("value", pa.int32())],
    )
    offsets = np.array(MAP_OFFSETS, np.int32)
    arr = pa.Array.from_buffers(
        mt, len(MAP_VALIDITY),
        [_bitmap(MAP_VALIDITY), pa.py_buffer(offsets.tobytes())],
        MAP_VALIDITY.count(0), children=[entries],
    )
    assert arr.type.keys_sorted is True
    assert arr.null_count == 1 and None in arr.to_pylist()
    out = _full_roundtrip(arr)
    # the reference's assertion set: values identical AND flag preserved
    assert out.to_pylist() == arr.to_pylist()
    assert out.type.keys_sorted is True


def test_ordered_dictionary_fixture_roundtrip():
    logical = [DICT_VALUES[i] if m else None
               for i, m in zip(DICT_INDICES, DICT_VALIDITY)]
    arr = pa.array(logical, type=pa.string())
    out = _full_roundtrip(arr)
    assert out.to_pylist() == logical
    # engine analog of isOrdered: global dictionary codes are assigned in
    # sorted value order and preserved through decode
    from sparrow_ipc_spark.codecs.dictionary import dict_id_for

    values = pa.array(sorted(set(DICT_VALUES)), type=pa.string())
    ctx = {"global_dicts": {"c": {"dict_id": dict_id_for("c"), "values": values}},
           "col_name": "c"}
    enc = base.encode_column("dict", arr, ctx)
    dec = base.decode_column("dict", json.loads(json.dumps(enc.meta)),
                             dict(enc.buffers), len(arr), arr.type,
                             {"dict_values": {dict_id_for("c"): values}})
    assert dec.to_pylist() == logical
