"""Arrow batch helpers shared by the ``mapInArrow`` kernels that stream a
sorted partition (``plans/backfill.py``'s turn features and
``operators/asof.py``'s merge-scan)."""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def run_starts(cols: Sequence[pa.Array], before: Sequence[pa.Array] | None = None) -> np.ndarray:
    """True where a row starts a new run of ``cols``: one of its values
    differs from the row before it. For the first row that is ``before``
    (one-row arrays, the previous batch's last row), or with None the first
    row starts a run. Nulls equal each other, as in a window's
    ``PARTITION BY``."""
    new = np.zeros(len(cols[0]), dtype=bool)
    for k, c in enumerate(cols):
        both = c if before is None else pa.concat_arrays([before[k], c])
        codes = pc.dictionary_encode(both, null_encoding="encode").indices.to_numpy()
        step = np.diff(codes, prepend=-1) != 0
        new |= step if before is None else step[1:]
    return new


def concat(batches: Sequence[pa.RecordBatch]) -> pa.RecordBatch:
    """One batch of ``batches``' rows (the batch itself when there is one)."""
    if len(batches) == 1:
        return batches[0]
    return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]
