"""Engine-free correctness oracle.

Everything here is computed with pyarrow/numpy from the generated input
tables; no ``aisle_spark`` code runs. Each query result the engine returns
is compared with the ``Expected`` tuple of the same predicate.

The token checksum is Spark's own ``hash(tokens)`` (Murmur3-32, seed 42,
folded over the array elements) summed over rows, re-implemented in numpy,
so the engine side can compute it with a plain codegen'd Spark aggregate.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _murmur3_int(k: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Spark's ``Murmur3_x86_32.hashInt`` over uint32 lanes."""
    k = k * np.uint32(0xCC9E2D51)
    k = _rotl(k, 15) * np.uint32(0x1B873593)
    h = _rotl(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)
    h = h ^ np.uint32(4)
    h ^= h >> np.uint32(16)
    h = h * np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h = h * np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def spark_array_hashes(tokens: pa.ListArray) -> np.ndarray:
    """Per-row ``hash(tokens)`` exactly as Spark computes it (int32).

    Rows are processed position by position, longest first, so every
    numpy step works on the prefix of rows still long enough."""
    offs = tokens.offsets.to_numpy().astype(np.int64)
    vals = tokens.values.to_numpy(zero_copy_only=False).astype(np.int32).view(np.uint32)
    lens = np.diff(offs)
    order = np.argsort(-lens, kind="stable")
    slens, starts = lens[order], offs[:-1][order]
    h = np.full(lens.size, 42, dtype=np.uint32)
    if lens.size:
        live = np.searchsorted(-slens, -np.arange(1, int(slens[0]) + 1), side="right")
        with np.errstate(over="ignore"):
            for j, m in enumerate(live):
                h[:m] = _murmur3_int(vals[starts[:m] + j], h[:m])
    out = np.empty_like(h)
    out[order] = h
    return out.view(np.int32)


@dataclass(frozen=True)
class Expected:
    """What a query must return: row count, sum(n_tok), and for queries
    that deliver token arrays, sum(size(tokens)) and the hash checksum.
    Sums over zero rows are None, as in SQL."""

    count: int
    n_tok: int | None = None
    tokens: int | None = None
    checksum: int | None = None


class TableOracle:
    """Expected query answers over one generated table."""

    def __init__(self, t: pa.Table):
        self.source = t.column("source")
        self.doc_id = t.column("doc_id")
        self.n_tok = t.column("n_tok").to_numpy().astype(np.int64)
        self.lens = pc.list_value_length(t.column("tokens")).to_numpy().astype(np.int64)
        self.hashes = spark_array_hashes(t.column("tokens").combine_chunks()).astype(np.int64)

    @property
    def rows(self) -> int:
        return int(self.n_tok.size)

    def expect(self, pred: "Pred | None", shape: str) -> Expected:
        m = np.ones(self.rows, dtype=bool) if pred is None else pred(self)
        count = int(m.sum())
        if shape == "count":
            return Expected(count)
        n_tok = int(self.n_tok[m].sum()) if count else None
        if shape == "ntok":
            return Expected(count, n_tok)
        tokens = int(self.lens[m].sum()) if count else None
        checksum = int(self.hashes[m].sum()) if count else None
        return Expected(count, n_tok, tokens, checksum)


Pred = Callable[[TableOracle], np.ndarray]


def _np(arr) -> np.ndarray:
    return np.asarray(arr.to_numpy(zero_copy_only=False), dtype=bool)


def source_is(value: str):
    return lambda o: _np(pc.equal(o.source, value))


def source_in(values: list[str]):
    return lambda o: _np(pc.is_in(o.source, value_set=pa.array(values)))


def n_tok_between(lo: int, hi: int):
    return lambda o: (o.n_tok >= lo) & (o.n_tok <= hi)


def doc_id_is(value: str):
    return lambda o: _np(pc.equal(o.doc_id, value))


def all_of(*preds):
    def pred(o):
        m = preds[0](o)
        for p in preds[1:]:
            m = m & p(o)
        return m

    return pred
