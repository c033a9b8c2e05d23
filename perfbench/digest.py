"""Order-independent digests of row sets, and precision/recall.

A reference is computed once at set-up; each job's output is reduced to
the same digest and compared. The digest is the row count plus the sum,
modulo 2**128, of a 128-bit BLAKE2b hash of each row's ``repr`` (rows
are tuples of Python ints, floats, strings and None, whose reprs are
canonical): row order and partitioning cannot change it, while a
missing, extra or repeated row does.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Sequence

_MOD = 1 << 128


def row_key(row: Sequence) -> str:
    """Canonical text of one row."""
    return repr(tuple(row))


def digest(rows: Iterable[Sequence]) -> tuple[int, str]:
    """(row count, hex sum of row hashes) — equal for equal multisets."""
    n, acc = 0, 0
    for row in rows:
        h = hashlib.blake2b(row_key(row).encode(errors="surrogatepass"),
                            digest_size=16).digest()
        acc = (acc + int.from_bytes(h, "big")) % _MOD
        n += 1
    return n, f"{acc:032x}"


def precision_recall(got: Iterable[Sequence],
                     want: Iterable[Sequence]) -> tuple[float, float]:
    """Set precision and recall of ``got`` against ``want``."""
    g, w = {row_key(r) for r in got}, {row_key(r) for r in want}
    tp = len(g & w)
    return (tp / len(g) if g else float(not w),
            tp / len(w) if w else float(not g))
