"""The one seam between a package stage and Python: ``map_rows`` runs
a row function as ``mapInArrow``; ``pylist``/``column`` and
``ndarray``/``from_ndarray`` move Arrow columns to and from Python
values and numpy straight through their buffers.

pyarrow's own conversions (``pa.array``, ``pa.scalar``,
``RecordBatch.from_pylist``, ``to_numpy``, and compute calls given a
Python scalar) go through its pandas shim, which imports pandas into
the worker: ~30 MB of resident heap per reused Python worker, for a
library no stage calls. ``filter``, ``slice`` and compute over Arrow
values stay pandas-free, as does ``to_pylist``; but it makes one Arrow
scalar per value: 15 ms for 10,000 strings, against 2.6 ms for
``pylist`` (2.1 ms through pandas).

A partition that was ``repartition(key).sortWithinPartitions(key)``-ed
arrives in the Python worker as a sequence of RecordBatches in sorted
order, so each key-group is a contiguous run — but a run may straddle
a batch boundary. ``grouped_batches`` re-chunks the stream into
batches that contain only COMPLETE groups by carrying the trailing
group over to the next batch. Worker memory is O(batch + largest
single group) instead of the whole-partition concat it replaces — the
difference between a fat partition OOMing the Python worker at 100×
scale and not (tune ``spark.sql.execution.arrow.maxRecordsPerBatch``
independently of partition sizing).
"""

from __future__ import annotations

from array import array
from itertools import accumulate, chain, islice
from typing import Callable, Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

BATCH_ROWS = 20_000  # rows per RecordBatch a stage yields

# stdlib array / numpy type codes of the fixed-width numeric types
_NUM = {pa.int32(): "i", pa.int64(): "q", pa.uint64(): "Q",
        pa.float32(): "f", pa.float64(): "d"}
_BITS = bytes.maketrans(b"\x00\x01", b"01")


def _bitmap(flags: Sequence) -> pa.Buffer:
    """Arrow's LSB-first bit-packing of ``flags`` (bools or 0/1)."""
    bits = bytes(flags[::-1]).translate(_BITS) or b"0"
    return pa.py_buffer(int(bits, 2).to_bytes((len(flags) + 7) // 8,
                                              "little"))


def _bits(buf: pa.Buffer, offset: int, n: int) -> str:
    """Bits ``offset`` to ``offset + n`` of an Arrow bitmap as a str
    of ``0``/``1``."""
    nbytes = (offset + n + 7) // 8
    word = int.from_bytes(memoryview(buf)[:nbytes], "little")
    return format(word, f"0{nbytes * 8}b")[::-1][offset:offset + n]


def _offsets(arr: pa.Array) -> memoryview:
    """A string, binary or list array's own ``len + 1`` offsets."""
    return memoryview(arr.buffers()[1]).cast("i")[
        arr.offset:arr.offset + len(arr) + 1]


def pylist(arr: pa.Array) -> list:
    """An array's values as a Python list (``None`` = null; a struct
    value is a dict), read from its buffers: string, binary, bool,
    int32, int64, float32, float64, and lists and structs of these."""
    n, off, t = len(arr), arr.offset, arr.type
    if not n:
        return []
    if pa.types.is_struct(t):
        names = [f.name for f in t]
        values = [dict(zip(names, v)) for v in zip(
            *(pylist(arr.field(i)) for i in range(t.num_fields)))]
    elif pa.types.is_list(t):
        offsets = _offsets(arr)
        lo = offsets[0]
        flat = pylist(arr.values.slice(lo, offsets[-1] - lo))
        values = [flat[a - lo:b - lo] for a, b in zip(offsets, offsets[1:])]
    elif t in (pa.string(), pa.binary()):
        offsets = _offsets(arr)
        lo, data = offsets[0], arr.buffers()[2]
        raw = bytes(memoryview(data)[lo:offsets[-1]]) if data else b""
        if t == pa.string() and raw.isascii():
            # one decode; then a byte offset is a character offset
            raw = raw.decode("ascii")
        values = [raw[a - lo:b - lo] for a, b in zip(offsets, offsets[1:])]
        if t == pa.string() and isinstance(raw, bytes):
            values = [v.decode() for v in values]
    elif t == pa.bool_():
        values = [c == "1" for c in _bits(arr.buffers()[1], off, n)]
    else:
        values = memoryview(arr.buffers()[1]).cast(_NUM[t])[
            off:off + n].tolist()
    if arr.null_count:
        values = [v if c == "1" else None
                  for v, c in zip(values, _bits(arr.buffers()[0], off, n))]
    return values


def column(values: Sequence, type: pa.DataType) -> pa.Array:
    """``values`` (``None`` = null) as an Arrow array of ``type``:
    any type ``pylist`` reads, a list value a sequence and a struct
    value a dict (a missing key is null)."""
    nulls = values.count(None)
    validity, children = None, None
    if nulls:
        # a null slot's data is written but never read
        validity = _bitmap([v is not None for v in values])
        fill = ("" if type == pa.string() else b"" if type == pa.binary()
                else () if pa.types.is_list(type)
                else {} if pa.types.is_struct(type) else 0)
        values = [fill if v is None else v for v in values]
    if pa.types.is_struct(type):
        buffers = [validity]
        children = [column([v.get(f.name) for v in values], f.type)
                    for f in type]
    elif pa.types.is_list(type) or type in (pa.string(), pa.binary()):
        if type == pa.string():
            values = [v.encode() for v in values]
        offsets = array("i", [0])
        offsets.extend(accumulate(map(len, values)))
        buffers = [validity, pa.py_buffer(offsets)]
        if pa.types.is_list(type):
            children = [column(list(chain.from_iterable(values)),
                               type.value_type)]
        else:
            buffers.append(pa.py_buffer(b"".join(values)))
    elif type == pa.bool_():
        buffers = [validity, _bitmap(values)]
    else:
        buffers = [validity, pa.py_buffer(array(_NUM[type], values))]
    return pa.Array.from_buffers(type, len(values), buffers,
                                 null_count=nulls, children=children)


def ndarray(arr: pa.Array) -> np.ndarray:
    """A null-free numeric array's values, or a list array's flat
    values, as a read-only numpy view over its buffers."""
    if arr.null_count:
        raise ValueError(f"{arr.null_count} null(s) in a {arr.type} array")
    if pa.types.is_list(arr.type):
        offsets = _offsets(arr)
        return ndarray(arr.values.slice(offsets[0],
                                        offsets[-1] - offsets[0]))
    dtype = np.dtype(_NUM[arr.type])
    return np.frombuffer(arr.buffers()[1] or b"", dtype, len(arr),
                         arr.offset * dtype.itemsize)


def from_ndarray(x: np.ndarray, type: pa.DataType) -> pa.Array:
    """``x`` as a null-free Arrow array of ``type`` over its own
    buffer: a 1-D numeric array, or for a list type a 2-D
    (rows, width) array whose rows become the lists."""
    if pa.types.is_list(type):
        offsets = np.arange(len(x) + 1, dtype=np.int32) * x.shape[1]
        return pa.Array.from_buffers(
            type, len(x), [None, pa.py_buffer(offsets)],
            children=[from_ndarray(x.reshape(-1), type.value_type)])
    x = np.ascontiguousarray(x, _NUM[type])
    return pa.Array.from_buffers(type, len(x), [None, pa.py_buffer(x)])


def record_batches(rows: Iterable[tuple],
                   schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """``rows`` (tuples in ``schema``'s field order) as RecordBatches
    of up to ``BATCH_ROWS`` rows; none for no rows."""
    it = iter(rows)
    while chunk := list(islice(it, BATCH_ROWS)):
        yield pa.RecordBatch.from_arrays(
            [column(vals, f.type) for vals, f in zip(zip(*chunk), schema)],
            schema=schema)


def map_rows(df: DataFrame, rows: Callable,
             schema: StructType | str) -> DataFrame:
    """``df.mapInArrow`` over ``rows``, which maps a partition's
    RecordBatches to output tuples in ``schema``'s field order (a
    StructType or a DDL string)."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    return df.mapInArrow(lambda b: record_batches(rows(b), arrow), schema)


def grouped_batches(batches: Iterator[pa.RecordBatch],
                    key: str) -> Iterator[pa.RecordBatch]:
    """Yield RecordBatches of complete ``key``-groups from a batch
    stream whose rows are sorted by ``key`` within the partition."""
    carry = None
    for batch in batches:
        if not batch.num_rows:
            continue
        if carry is not None:
            batch = (pa.Table.from_batches([carry, batch])
                     .combine_chunks().to_batches()[0])
            carry = None
        # rows are sorted by key → all rows equal to the last key form
        # the trailing run, which may continue in the next batch
        keys = batch.column(key)
        split = batch.num_rows - pc.sum(pc.equal(keys, keys[-1])).as_py()
        carry = batch.slice(split)
        if split:
            yield batch.slice(0, split)
    if carry is not None and carry.num_rows:
        yield carry
