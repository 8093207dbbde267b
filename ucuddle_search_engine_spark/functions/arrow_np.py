"""Arrow ⇄ numpy conversions for the Spark-free serving tier.

pyarrow's own bridges — Array.to_numpy / np.asarray(array), pa.array,
pa.scalar, Schema.empty_table, Table.group_by — import pandas on first use
(pyarrow's pandas shim and its C++ pandas conversion path): ~170 ms and
~40 MB of RSS in a process that never builds a DataFrame. These helpers go
through DLPack and Arrow buffers instead, so no pandas module loads.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def combine(a: pa.ChunkedArray) -> pa.Array:
    """A ChunkedArray as one Array: its only chunk as is (combine_chunks
    copies it), and an empty array for a column without chunks (which a
    filter that keeps no row can leave, and which combine_chunks builds
    through pa.array)."""
    if a.num_chunks == 1:
        return a.chunk(0)
    return a.combine_chunks() if a.num_chunks else pa.nulls(0, a.type)


def to_np(a) -> np.ndarray:
    """A pyarrow (Chunked)Array as numpy: fixed-width numbers zero-copy
    through DLPack (null slots read as 0), binary and string values as an
    object array of Python bytes / str."""
    if isinstance(a, pa.ChunkedArray):
        a = combine(a)
    binary = pa.types.is_binary(a.type) or pa.types.is_large_binary(a.type)
    if binary or pa.types.is_string(a.type) or pa.types.is_large_string(a.type):
        out = np.empty(len(a), dtype=object)
        if binary and len(a) and not a.null_count:
            # bytes slices of one copy of the array's data range: ~4× faster
            # than to_pylist's per-value scalars
            o = np.frombuffer(a.buffers()[1], dtype=np.int64 if pa.types.is_large_binary(a.type)
                              else np.int32, count=a.offset + len(a) + 1)[a.offset:]
            data = a.buffers()[2]
            raw = b"" if data is None else memoryview(data)[o[0]:o[-1]].tobytes()
            o = (o - o[0]).tolist()
            out[:] = [raw[i:j] for i, j in zip(o[:-1], o[1:])]
        else:
            out[:] = a.to_pylist()
        return out
    if not a.null_count:
        return np.from_dlpack(a)
    dtype = np.from_dlpack(a.slice(0, 0)).dtype
    vals = np.frombuffer(a.buffers()[1], dtype=dtype, count=a.offset + len(a))[a.offset:]
    return np.where(to_np(a.is_valid().cast(pa.uint8())).astype(bool), vals, 0)


def array(values, type=None) -> pa.Array:
    """An Arrow array of `values` (numpy array or Python list: numbers,
    bools or str), typed `type` when given (cast after construction)."""
    if len(values) and isinstance(values[0], str):
        enc = [v.encode() for v in values]
        offsets = np.zeros(len(enc) + 1, dtype=np.int32)
        np.cumsum([len(e) for e in enc], out=offsets[1:])
        out = pa.Array.from_buffers(pa.string(), len(enc),
                                    [None, pa.py_buffer(offsets), pa.py_buffer(b"".join(enc))])
    else:
        x = np.asarray(values)
        if x.dtype == bool:
            buf = np.packbits(x, bitorder="little")
            out = pa.Array.from_buffers(pa.bool_(), len(x), [None, pa.py_buffer(buf)])
        else:
            x = np.ascontiguousarray(x if len(x) else x.astype(np.int64))
            out = pa.Array.from_buffers(pa.from_numpy_dtype(x.dtype), len(x),
                                        [None, pa.py_buffer(x)])
    return out if type is None or out.type == type else out.cast(type)


def key_bytes(a: pa.Array) -> np.ndarray:
    """A string array's UTF-8 values as one fixed-width numpy `S` array (the
    longest value's width), scattered from the offsets and data buffers."""
    large = pa.types.is_large_string(a.type) or pa.types.is_large_binary(a.type)
    o = np.frombuffer(a.buffers()[1], dtype=np.int64 if large else np.int32,
                      count=a.offset + len(a) + 1)[a.offset:].astype(np.int64)
    lens = np.diff(o)
    width = max(int(lens.max()) if len(lens) else 0, 1)
    out = np.zeros(len(a) * width, dtype=np.uint8)
    buf = a.buffers()[2]
    data = np.frombuffer(buf, dtype=np.uint8)[o[0]:o[-1]] if buf is not None \
        else np.empty(0, np.uint8)
    at = np.arange(len(data), dtype=np.int64)
    at += np.repeat(np.arange(len(a), dtype=np.int64) * width - (o[:-1] - o[0]), lens)
    out[at] = data
    return out.view(f"S{width}")
