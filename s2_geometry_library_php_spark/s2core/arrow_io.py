"""Arrow arrays <-> numpy for the S2 kernels' Arrow UDF shells.

Every S2 UDF reads its input columns and writes its output column
through these helpers, which touch raw Arrow buffers only: values come
from ``np.frombuffer`` over the data buffer, nulls from the validity
bitmap, and outputs are ``pa.Array.from_buffers`` over numpy memory.
pyarrow's own numpy conversions (``pa.array(ndarray)``,
``Array.to_numpy()``, ``np.asarray(arr)``, ``fill_null``) load pandas
through pyarrow's pandas shim, about 40 MB of RSS per Python worker
that the S2 paths never use; none of the calls here does.  Only
numpy and pyarrow are imported.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_FLOATS = {pa.float64(): np.float64, pa.float32(): np.float32}
_TYPES = {
    np.dtype(np.float64): pa.float64(),
    np.dtype(np.int64): pa.int64(),
    np.dtype(np.int32): pa.int32(),
}


def valid_mask(arr: pa.Array) -> np.ndarray | None:
    """Bool array, true where ``arr`` is not null; None without nulls."""
    if not arr.null_count:
        return None
    bits = np.frombuffer(arr.buffers()[0], np.uint8)
    n = arr.offset + len(arr)
    return np.unpackbits(bits, count=n, bitorder="little")[arr.offset:].view(bool)


def _values(arr: pa.Array, dtype) -> np.ndarray:
    """The data buffer of a fixed-width array as a read-only view."""
    if not len(arr):
        return np.empty(0, dtype)
    n = arr.offset + len(arr)
    return np.frombuffer(arr.buffers()[1], dtype, count=n)[arr.offset:]


def float64_values(arr: pa.Array) -> np.ndarray:
    """float64 values of a numeric array, a null read as NaN: bit for
    bit ``arr.to_numpy(zero_copy_only=False).astype(np.float64)``.
    Float inputs are read from their buffers; other types take that
    pyarrow conversion itself."""
    dtype = _FLOATS.get(arr.type)
    if dtype is None:
        return arr.to_numpy(zero_copy_only=False).astype(np.float64)
    values = _values(arr, dtype).astype(np.float64, copy=False)
    valid = valid_mask(arr)
    return values if valid is None else np.where(valid, values, np.nan)


def int64_values(arr: pa.Array) -> np.ndarray:
    """int64 values of an integer array, a null read as 0."""
    if arr.type != pa.int64():
        arr = arr.cast(pa.int64())
    values = _values(arr, np.int64)
    valid = valid_mask(arr)
    return values if valid is None else np.where(valid, values, 0)


def _validity(valid: np.ndarray | None) -> pa.Buffer | None:
    if valid is None:
        return None
    return pa.py_buffer(np.packbits(np.asarray(valid, bool), bitorder="little"))


def array(values: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    """A float64, int64, int32 or bool Arrow array of ``values``; a row
    is null where ``valid`` is false."""
    values = np.ascontiguousarray(values)
    if values.dtype == bool:
        typ, data = pa.bool_(), np.packbits(values, bitorder="little")
    else:
        typ, data = _TYPES[values.dtype], values
    return pa.Array.from_buffers(
        typ, len(values), [_validity(valid), pa.py_buffer(data)]
    )


def list_array(
    offsets: np.ndarray, values: pa.Array, valid: np.ndarray | None = None
) -> pa.Array:
    """A list array: row ``i`` is ``values[offsets[i]:offsets[i + 1]]``,
    null where ``valid`` is false."""
    offsets = array(np.asarray(offsets, dtype=np.int32))
    mask = None if valid is None else array(~np.asarray(valid, bool))
    return pa.ListArray.from_arrays(offsets, values, mask=mask)
