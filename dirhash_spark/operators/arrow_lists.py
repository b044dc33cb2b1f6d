"""Arrow list columns ↔ numpy matrices, for the Python stages that run
as ``mapInArrow`` / ``applyInArrow`` / ``arrow_udf`` over Arrow batches
(DESIGN.md's tier map).  A fixed-width vector column is read from the
list column's flat values buffer, not one Python list per row."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def list_matrix(col, width: int | None = None, dtype=np.float64) -> np.ndarray:
    """An equal-length numeric list column (Array or ChunkedArray) as a
    writable ``(rows, width)`` matrix.  ``width`` gives a zero-row
    column its shape; otherwise it is read off the values."""
    flat = np.array(pc.list_flatten(col), dtype=dtype)
    if width is None:
        width = len(flat) // len(col) if len(col) else 0
    return flat.reshape(len(col), width)


def matrix_list(m: np.ndarray) -> pa.ListArray:
    """The inverse of :func:`list_matrix`: one Arrow list per row of a
    2-D matrix, typed by the matrix's dtype."""
    n, w = m.shape
    return pa.ListArray.from_arrays(
        np.arange(n + 1, dtype=np.int32) * w, pa.array(m.reshape(-1))
    )
