"""Reference-format matrix files, written and read with numpy alone.

The format is the one the paper's Hadoop code reads and writes: each
file starts with a big-endian ``int i0, i1, j0, j1`` extent header,
then holds ``i1 - i0`` records of ``int row_no`` followed by the row's
``double`` values for columns ``[j0, j1)``. This module is the
benchmark's own codec, independent of the program's reader and writer,
so the program's output is never checked with the program's parser.
"""

from __future__ import annotations

import os
import struct

import numpy as np

_HEADER = struct.Struct(">4i")


def write_row_strips(out_dir: str, mat: np.ndarray, strip_rows: int) -> int:
    """Write ``mat`` as one file per ``strip_rows``-row strip, named
    ``A.<k>`` like the reference's ``out/A.*``; return bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    n, m = mat.shape
    rec = np.dtype([("row", ">i4"), ("vals", ">f8", (m,))])
    total = 0
    for k, i0 in enumerate(range(0, n, strip_rows)):
        i1 = min(n, i0 + strip_rows)
        body = np.empty(i1 - i0, dtype=rec)
        body["row"] = np.arange(i0, i1)
        body["vals"] = mat[i0:i1]
        payload = _HEADER.pack(i0, i1, 0, m) + body.tobytes()
        with open(os.path.join(out_dir, f"A.{k}"), "wb") as f:
            f.write(payload)
        total += len(payload)
    return total


def read_matrix(in_dir: str, n_rows: int, n_cols: int) -> tuple[np.ndarray, int]:
    """Assemble every reference-format file in ``in_dir`` into a dense
    ``(n_rows, n_cols)`` array (absent blocks are zero). Rows land by
    their ``row_no``. Returns the matrix and the bytes read; raises
    ``ValueError`` on a file whose size disagrees with its header."""
    out = np.zeros((n_rows, n_cols))
    total = 0
    for name in sorted(os.listdir(in_dir)):
        path = os.path.join(in_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path, "rb") as f:
            data = f.read()
        total += len(data)
        if len(data) < _HEADER.size:
            raise ValueError(f"{path}: {len(data)} bytes, shorter than a header")
        i0, i1, j0, j1 = _HEADER.unpack_from(data, 0)
        rows, cols = i1 - i0, j1 - j0
        if rows < 0 or cols <= 0 or j1 > n_cols:
            raise ValueError(f"{path}: bad extent ({i0},{i1},{j0},{j1})")
        if len(data) != _HEADER.size + rows * (4 + 8 * cols):
            raise ValueError(f"{path}: size disagrees with ({i0},{i1},{j0},{j1})")
        rec = np.dtype([("row", ">i4"), ("vals", ">f8", (cols,))])
        body = np.frombuffer(data, dtype=rec, count=rows, offset=_HEADER.size)
        out[body["row"], j0:j1] = body["vals"]
    return out, total
