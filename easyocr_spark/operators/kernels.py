"""Vectorized hash kernels shared by the Arrow UDFs of several operators.

Each kernel is the numpy twin of an engine-portable Catalyst/DuckDB
fold, exact to the bit, so a query can move its hashing into a batched
``mapInPandas`` stage without changing a single output value (the DuckDB
oracles still reproduce the fold in SQL).
"""

from __future__ import annotations

HASH_MOD = 2147483647  # 2^31-1


def token_hashes(toks: list, bases: tuple[int, ...]):
    """Per-token polynomial char hashes, one int64 array per base —
    the numpy twin of the former per-token Catalyst HOF folds, exact to
    the bit: for each token the fold is ``(acc*B + code) % HASH_MOD``
    over its code points in order, vectorized ACROSS tokens grouped by
    length (one utf-32 decode per length group, then L fused
    multiply-mod passes). Intermediates stay exact in int64
    (acc < 2^31, acc*B + c < 2^39). Code points == ``ascii()`` on each
    ``split('')`` char for BMP text (the winnowing-kernel contract);
    empty tokens hash to 0 in both formulations."""
    import numpy as np

    nt = len(toks)
    out = [np.zeros(nt, dtype=np.int64) for _ in bases]
    if not nt:
        return out
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=nt)
    for L in np.unique(lens):
        if L == 0:
            continue
        idx = np.flatnonzero(lens == L)
        mat = (
            np.frombuffer(
                "".join(toks[i] for i in idx).encode("utf-32-le"),
                dtype=np.uint32,
            )
            .astype(np.int64)
            .reshape(len(idx), int(L))
        )
        for o, base in zip(out, bases):
            acc = np.zeros(len(idx), dtype=np.int64)
            for d in range(int(L)):
                acc = (acc * base + mat[:, d]) % HASH_MOD
            o[idx] = acc
    return out
