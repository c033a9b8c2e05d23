"""Group-complete batch streaming for mapInPandas and mapInArrow
operators.

A partition that was ``repartition(key).sortWithinPartitions(key)``-ed
arrives in the Python worker as a sequence of batches in sorted order
(pandas DataFrames under mapInPandas, pyarrow RecordBatches under
mapInArrow), so each key-group is a contiguous run — but a run may
straddle a batch boundary. ``grouped_batches`` re-chunks the stream
into frames that contain only COMPLETE groups by carrying the trailing
group over to the next batch.

Worker memory is O(batch + largest single group) instead of the
whole-partition ``pd.concat`` it replaces — the difference between a
fat partition OOMing the Python worker at 100× scale and not
(tune ``spark.sql.execution.arrow.maxRecordsPerBatch`` independently of
partition sizing).
"""

from __future__ import annotations

from typing import Iterator, TypeVar

import numpy as np
import pandas as pd
import pyarrow as pa

Frame = TypeVar("Frame", pd.DataFrame, pa.RecordBatch)


def _concat(carry: Frame, frame: Frame) -> Frame:
    """``carry``'s rows, then ``frame``'s: the one step of the run carry
    that depends on the batch type."""
    if isinstance(frame, pd.DataFrame):
        return pd.concat([carry, frame], ignore_index=True)
    return (pa.Table.from_batches([carry, frame]).combine_chunks()
            .to_batches()[0])


def grouped_batches(batches: Iterator[Frame], key: str) -> Iterator[Frame]:
    """Yield frames of complete ``key``-groups from a batch stream whose
    rows are sorted by ``key`` within the partition. The batches may be
    pandas DataFrames or pyarrow RecordBatches; each yielded frame has
    the type of its batches."""
    carry = None
    for frame in batches:
        if not len(frame):
            continue
        if carry is not None:
            frame = _concat(carry, frame)
            carry = None
        # rows are sorted by key → all rows equal to the last key form
        # the trailing run, which may continue in the next batch
        keys = np.asarray(frame[key])
        split = len(keys) - int((keys == keys[-1]).sum())
        carry = frame[split:]
        if isinstance(carry, pd.DataFrame):
            # copy: a view would pin the whole source batch in memory
            carry = carry.reset_index(drop=True).copy()
        if split:
            yield frame[:split]
    if carry is not None and len(carry):
        yield carry
