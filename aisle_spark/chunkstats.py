"""Per-chunk (page-level) statistics — the engine's analog of the parquet
page index that aisle's second pruning granularity consumes
(/root/reference/src/prune/page.rs:71-137, src/prune/cmp.rs:216-270,
src/prune/eval.rs:66-176) — and the one numpy tri-state evaluator that
all three prune tiers (file, block, chunk) run.

Each 4096-row block stores, per scalar column, min/max/null-count arrays
over fixed ROW_CHUNK-row chunks. ``unit_tri`` evaluates a predicate's
Kleene tri-state vectorized over per-unit stat arrays, whatever the
unit is:
  * files — ``datasource.file_keep`` runs it over one unit per file,
    built from the manifest's per-file ``[min, max, nulls, rows]`` and
    map key-set entries, so a file drops exactly when the same evidence
    rules say none of its rows can match;
  * blocks — the DataSource planner (``AisleReader.partitions``) runs it
    once over the concatenated manifest stat columns of the files the
    file tier kept, selecting exactly the block set Catalyst's
    ``keep()`` selects (tests/test_prune_sql.py);
  * chunks — ``chunk_keep`` runs it inside the reader over one block's
    chunk arrays before decoding anything, and a block whose every chunk
    is definitely-false is skipped without touching a single payload
    byte (the reference's page-index cut rows-read 79.5%, its
    benches/df_compare/README.md:43). Aisle likewise
    keeps one ``cmp`` module for row groups and pages.

Soundness invariants match filterspec's:
  f[i] True  => no row in unit i evaluates TRUE   (prunable)
  t[i] True  => no row in unit i evaluates FALSE  (Not-prunable dual)
NULL or missing stats, and unsupported leaves, give (False, False) =
Unknown — never a wrong skip.
"""

from __future__ import annotations

import datetime as _dt
import math
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ROW_CHUNK = 512

_EPOCH = _dt.datetime(1970, 1, 1)
_EPOCH_DATE = _dt.date(1970, 1, 1)


def n_chunks(n_rows: int) -> int:
    return (n_rows + ROW_CHUNK - 1) // ROW_CHUNK


# ---------------------------------------------------------------------------
# encode side: per-chunk stat arrays for one column
# ---------------------------------------------------------------------------


def chunk_stats_int(vals: np.ndarray, valid: np.ndarray | None, n: int) -> dict:
    """Per-chunk min/max/nulls for an int-kind column. ``vals`` holds the
    NON-NULL values in row order; ``valid`` the row validity (None = all
    valid). All reduceat/add — no per-row Python."""
    k = n_chunks(n)
    mins = np.zeros(k, dtype=np.int64)
    maxs = np.zeros(k, dtype=np.int64)
    nulls = np.zeros(k, dtype=np.int32)
    if valid is None:
        starts = np.arange(k, dtype=np.int64) * ROW_CHUNK
        if vals.size:
            v64 = vals.astype(np.int64, copy=False)
            mins[:] = np.minimum.reduceat(v64, starts)
            maxs[:] = np.maximum.reduceat(v64, starts)
    else:
        # nulls per chunk; non-null values land in their row's chunk
        starts = np.arange(k, dtype=np.int64) * ROW_CHUNK
        nulls[:] = np.add.reduceat((~valid).astype(np.int32), starts)
        if vals.size:
            v64 = vals.astype(np.int64, copy=False)
            rows = np.flatnonzero(valid)
            ci = rows // ROW_CHUNK
            # reduceat over the run boundaries of ci (sorted by construction)
            bstarts = np.flatnonzero(np.concatenate(([True], ci[1:] != ci[:-1])))
            present = ci[bstarts]
            mins[present] = np.minimum.reduceat(v64, bstarts)
            maxs[present] = np.maximum.reduceat(v64, bstarts)
    return {"min": mins.tolist(), "max": maxs.tolist(), "nulls": nulls.tolist()}


def chunk_stats_float(vals: np.ndarray, valid: np.ndarray | None, n: int) -> dict:
    """Float chunk stats under Spark's total order: max records NaN when
    the chunk contains one (same rule as block-level _float_min_max)."""
    k = n_chunks(n)
    mins = np.zeros(k, dtype=np.float64)
    maxs = np.zeros(k, dtype=np.float64)
    nulls = np.zeros(k, dtype=np.int32)
    full = np.full(n, np.nan, dtype=np.float64)
    if valid is None:
        full[: vals.size] = vals
    else:
        starts = np.arange(k, dtype=np.int64) * ROW_CHUNK
        nulls[:] = np.add.reduceat((~valid).astype(np.int32), starts)
        full[valid] = vals
    for i in range(k):
        lo, hi = i * ROW_CHUNK, min((i + 1) * ROW_CHUNK, n)
        seg = full[lo:hi]
        if valid is not None:
            seg = seg[valid[lo:hi]]
        if not seg.size:
            continue
        nonnan = seg[~np.isnan(seg)]
        mins[i] = float(nonnan.min()) if nonnan.size else np.nan
        maxs[i] = np.nan if nonnan.size < seg.size else float(nonnan.max())
    return {"min": mins.tolist(), "max": maxs.tolist(), "nulls": nulls.tolist()}


def chunk_stats_string(arr: pa.Array, n: int) -> dict:
    """String chunk stats via pyarrow min_max per slice (<= 8 slices per
    block — a bounded loop over chunks, never over rows). Long values are
    stored as sound bounds (prefix min / successor max), same discipline
    as the block-level stats."""
    from aisle_spark.filterspec import truncate_stat_max, truncate_stat_min

    k = n_chunks(n)
    mins: list[str | None] = []
    maxs: list[str | None] = []
    nulls = []
    for i in range(k):
        lo = i * ROW_CHUNK
        sl = arr.slice(lo, min(ROW_CHUNK, n - lo))
        nulls.append(sl.null_count)
        if sl.null_count == len(sl):
            mins.append(None)
            maxs.append(None)
        else:
            mm = pc.min_max(sl)
            mins.append(truncate_stat_min(mm["min"].as_py()))
            maxs.append(truncate_stat_max(mm["max"].as_py()))
    return {"min": mins, "max": maxs, "nulls": nulls}




# ---------------------------------------------------------------------------
# query side: one Kleene tri-state over per-unit stat arrays — the
# manifest's blocks and a block's chunks alike
# ---------------------------------------------------------------------------

_NP_OPS = {
    "eq": np.equal, "ne": np.not_equal, "lt": np.less,
    "le": np.less_equal, "gt": np.greater, "ge": np.greater_equal,
}
_FLIP = {"lt": "ge", "le": "gt", "gt": "le", "ge": "lt"}  # bound of NOT(x op v)


def _lit_num(v, kind: str, arrow_type: pa.DataType | None = None):
    """Predicate literal -> the numeric domain the stat arrays use, or
    None unless the literal's Python type EXACTLY matches the column's
    stat domain (then the leaf is Unknown — conservative, never a wrong
    skip). Truncating coercion must never happen here (ADVICE r2 high):
    ``int(3.5)`` on an int column, or a datetime literal converted to µs
    against date32 stats stored in DAYS, turns Unknown into a wrong
    definitely-false and silently drops matching rows. A float literal on
    an int column stays a float: the comparison then runs in float64,
    exactly as Catalyst's cast does. A Decimal literal compares exactly
    (Spark widens both sides to a common decimal): one finer than the
    column's grid stays a Decimal, which numpy compares exactly against
    the integer stats."""
    import decimal as _decimal

    if isinstance(v, _decimal.Decimal) and not v.is_finite():
        return None
    if kind == "decimal":
        if isinstance(v, float):
            return _float_on_decimal_grid(v, arrow_type.scale)
        if isinstance(v, bool) or not isinstance(v, (int, _decimal.Decimal)):
            return None
        unscaled = _decimal.Decimal(v).scaleb(arrow_type.scale)
        return int(unscaled) if unscaled == int(unscaled) else unscaled
    if kind == "float":
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        return float(v)
    if kind == "timestamp":
        if not isinstance(v, _dt.datetime):
            return None
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH  # exact integer µs — float total_seconds() rounds
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if kind == "duration":
        if not isinstance(v, _dt.timedelta):
            return None
        return (v.days * 86400 + v.seconds) * 1_000_000 + v.microseconds
    if kind == "int":
        if arrow_type is not None and pa.types.is_date(arrow_type):
            # date32 stats are DAYS; datetime (a date SUBCLASS) carries
            # time-of-day and belongs to a different comparison domain
            if isinstance(v, _dt.datetime) or not isinstance(v, _dt.date):
                return None
            return (v - _EPOCH_DATE).days
        if isinstance(v, (int, float)):  # bools included
            return v
        if isinstance(v, _decimal.Decimal):
            return int(v) if v == int(v) else v
    return None


def _float_on_decimal_grid(v: float, scale: int):
    """Unscaled value of a float literal against a decimal(p, ``scale``)
    column, or None. Spark casts the DECIMAL side to double, so
    boundary strictness can flip within half an ulp of the literal. The
    exact comparison agrees with the double one when (a) the literal
    sits ON the column's 10^-scale grid (Decimal(v) is the exact binary
    value) and (b) half an ulp at |v| is smaller than the grid step:
    then no decimal value other than v itself can round across v. The
    ``price >= 60000.00`` money shape prunes; off-grid doubles (0.1)
    and huge magnitudes stay Unknown."""
    import decimal as _decimal

    if not math.isfinite(v) or not (v == 0.0 or math.ulp(abs(v)) < 10.0 ** -scale):
        return None
    unscaled = _decimal.Decimal(v).scaleb(scale)
    return int(unscaled) if unscaled == int(unscaled) else None


_STAT_SUFFIXES = (
    "__min", "__max", "__nulls", "__dict", "__bloom", "__elem_min",
    "__elem_max", "__len_min", "__len_max", "__keys", "__kmin", "__kmax",
)


def stat_columns(spec) -> list[str]:
    """Every manifest stat column :func:`unit_tri` may read for ``spec``."""
    return [f"{c}{s}" for c in sorted(spec.columns()) for s in _STAT_SUFFIXES]


def stat_domain(a) -> pa.Array:
    """A manifest stat column mapped into the domain the chunk arrays use,
    so one evaluator reads both: timestamps (either writer's flavour) ->
    epoch-µs int64, date32 -> days, durations -> µs, decimals ->
    unscaled int64, booleans and ints -> int64, floats -> float64.
    Strings, bytes and list columns pass through."""
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    t = a.type
    if pa.types.is_timestamp(t):
        return a.cast(pa.timestamp("us", t.tz)).cast(pa.int64())
    if pa.types.is_duration(t):
        return a.cast(pa.duration("us")).cast(pa.int64())
    if pa.types.is_date(t):
        return a.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())
    if pa.types.is_decimal(t):
        # precision <= 18: the low little-endian word of each 128-bit
        # slot IS the unscaled value
        words = np.frombuffer(a.buffers()[1], dtype=np.int64)
        lo = words[2 * a.offset : 2 * (a.offset + len(a)) : 2]
        return pa.array(lo, mask=~a.is_valid().to_numpy(zero_copy_only=False))
    if pa.types.is_boolean(t) or pa.types.is_integer(t):
        return a.cast(pa.int64(), safe=False)
    if pa.types.is_floating(t):
        return a.cast(pa.float64())
    if pa.types.is_large_string(t):
        return a.cast(pa.string())
    if pa.types.is_large_binary(t):
        return a.cast(pa.binary())
    return a


def _col(a) -> tuple:
    """(values, valid) numpy pair of a stat column given as a pyarrow
    array (NULL = missing) or as such a pair already. Strings and bytes
    become object arrays; NULL slots hold a blank of their type."""
    if isinstance(a, tuple):
        return a
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    valid = a.is_valid().to_numpy(zero_copy_only=False)
    if a.null_count:
        t = a.type
        blank = "" if pa.types.is_string(t) else b"" if pa.types.is_binary(t) else 0
        a = pc.fill_null(a, blank)
    return a.to_numpy(zero_copy_only=False), valid


def _stat(stats, name: str, n: int) -> tuple:
    """(values, valid) of one stat column. A column the units do not
    carry reads as all-NULL: no evidence, exactly like a NULL stat."""
    a = stats.get(name)
    return (None, np.zeros(n, dtype=bool)) if a is None else _col(a)


def _nulls(stats, c: str, n: int) -> tuple:
    nl, ok = _stat(stats, f"{c}__nulls", n)
    return (np.zeros(n, dtype=np.int64) if nl is None else nl), ok


def _holds(vals: np.ndarray, op: str, v) -> np.ndarray:
    """``vals op v`` is TRUE, per unit, in Spark's order: NaN sorts above
    every number and equals itself; an int stat against a float literal
    compares in float64 (Catalyst's cast). Strings and bytes compare as
    Python objects: code-point / byte order, Spark's order too."""
    if vals.dtype.kind != "f" and not isinstance(v, float):
        return _NP_OPS[op](vals, v)
    vals = vals.astype(np.float64, copy=False)
    nan = np.isnan(vals)
    if math.isnan(v):
        return {
            "eq": nan, "ne": ~nan, "lt": ~nan, "le": np.ones_like(nan),
            "gt": np.zeros_like(nan), "ge": nan,
        }[op]
    out = _NP_OPS[op](vals, v)
    return out | nan if op in ("gt", "ge") else out


def _may(stat, op: str, v) -> np.ndarray:
    """``stat op v`` may hold: it is TRUE, or the stat is NULL."""
    vals, ok = stat
    return ~ok if vals is None else ~ok | _holds(vals, op, v)


def _range(op: str, lo, hi, v, has_nulls=None) -> tuple:
    """(t, f) of ``x op v`` from each unit's [lo, hi] bounds: the negation
    of filterspec's ``not_true()`` and ``keep()`` for Cmp. ``has_nulls``
    None marks a one-sided leaf (ArrayAny, MapKeyCmp): its t-side is
    never certain and its ``ne`` keep carries no null term."""
    hn = np.zeros(len(lo[1]), dtype=bool) if has_nulls is None else has_nulls
    if op == "eq":
        keep = _may(lo, "le", v) & _may(hi, "ge", v)
        not_true = _may(lo, "ne", v) | _may(hi, "ne", v) | hn
    elif op == "ne":
        keep = _may(lo, "ne", v) | _may(hi, "ne", v) | hn
        not_true = (_may(lo, "le", v) & _may(hi, "ge", v)) | hn
    elif op in ("lt", "le"):
        keep = _may(lo, op, v)
        not_true = _may(hi, _FLIP[op], v) | hn
    elif op in ("gt", "ge"):
        keep = _may(hi, op, v)
        not_true = _may(lo, _FLIP[op], v) | hn
    else:  # pragma: no cover
        raise ValueError(op)
    t = np.zeros_like(keep) if has_nulls is None else ~not_true
    return t, ~keep


def _scalar(stats, c: str, n_rows: np.ndarray) -> tuple:
    """(lo, hi, has_nulls, empty) of a scalar column. ``empty`` marks
    units without a non-NULL row whose bounds still carry a value — the
    chunk arrays' placeholder for an all-NULL chunk. Every comparison is
    NULL on every row there, so both sides hold. Block stats are NULL
    for such a block instead: Unknown, as Catalyst ``keep()`` reads it."""
    n = len(n_rows)
    lo, hi = _stat(stats, f"{c}__min", n), _stat(stats, f"{c}__max", n)
    nl, ok = _nulls(stats, c, n)
    empty = lo[1] & hi[1] & ok & (nl == n_rows)
    return lo, hi, ~ok | (nl != 0), empty


def _lit(so, v):
    """``v`` in the stat domain of the scalar column ``so``, or None."""
    if so is None:
        return None
    if so.kind == "string":
        return v if isinstance(v, str) else None
    if so.kind == "binary":  # Spark hands pushed binary values over as bytearray
        return bytes(v) if isinstance(v, (bytes, bytearray, memoryview)) else None
    return _lit_num(v, so.kind, so.arrow_type)


def _lists(a, n: int) -> tuple:
    """(flat values, per-unit start, per-unit length, valid) of a list
    stat column; NULL lists have length 0, a missing column is all-NULL."""
    if a is None:
        z = np.zeros(n, dtype=np.int64)
        return None, z, z, z.astype(bool)
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    lens = pc.fill_null(pc.list_value_length(a), 0).to_numpy(zero_copy_only=False)
    lens = lens.astype(np.int64)
    valid = a.is_valid().to_numpy(zero_copy_only=False)
    return a.flatten(), np.cumsum(lens) - lens, lens, valid


def _absent(lists, values, n: int) -> np.ndarray:
    """The unit's value set (``__dict``) is known and holds none of
    ``values``."""
    flat, _, lens, ok = _lists(lists, n)
    if flat is None or not ok.any():
        return np.zeros(n, dtype=bool)
    hit = pc.is_in(flat, value_set=pa.array(list(values), flat.type))
    found = np.zeros(n, dtype=bool)
    found[np.repeat(np.arange(n), lens)[hit.to_numpy(zero_copy_only=False)]] = True
    return ok & ~found


def _bloom_absent(blooms, values, n: int) -> np.ndarray:
    """The unit's bloom filter proves EVERY value absent (filterspec
    ``_bloom_absent``): a NULL filter is no evidence."""
    from aisle_spark.codecs.bloom import M_WORDS, bloom_positions

    flat, starts, lens, ok = _lists(blooms, n)
    ok = ok & (lens == M_WORDS)
    if not ok.any():
        return ok
    words = flat.to_numpy(zero_copy_only=False).view(np.uint64)
    base = np.where(ok, starts, 0)
    absent = ok
    for v in values:
        present = np.ones(n, dtype=bool)
        key = v if isinstance(v, bytes) else v.encode("utf-8")
        for p in bloom_positions(key).tolist():
            bit = (words[base + (p >> 6)] >> np.uint64(p & 63)) & np.uint64(1)
            present &= bit.astype(bool)
        absent = absent & ~present
    return absent


def _map_value(lists, pos: np.ndarray, n: int) -> tuple:
    """(values, valid) of each unit's ``pos``-th list element: the
    per-key bound ``element_at(map_from_arrays(keys, kmin), key)``."""
    flat, starts, lens, _ = _lists(lists, n)
    ok = (pos >= 0) & (pos < lens)
    if not ok.any():
        return None, ok
    vals, vok = _col(flat.take(pa.array(np.where(ok, starts + pos, 0))))
    return vals, ok & vok


def _map_key_f(stats, so, spec, n: int) -> np.ndarray:
    from aisle_spark.schema import map_value_kind

    vk = map_value_kind(so.arrow_type)
    if vk == "string":
        v = spec.value if isinstance(spec.value, str) else None
    else:
        v = _lit_num(spec.value, vk)
    keys = stats.get(f"{spec.col}__keys")
    flat, starts, lens, ok = _lists(keys, n)
    pos = np.full(n, -1, dtype=np.int64)
    if flat is not None and len(flat):
        hit = np.flatnonzero(
            pc.fill_null(pc.equal(flat, spec.key), False).to_numpy(zero_copy_only=False)
        )
        units = np.repeat(np.arange(n), lens)[hit]
        pos[units] = hit - starts[units]
    # a key absent from a known key set occurs in NO row: all rows NULL,
    # whatever the literal
    absent = ok & (pos < 0)
    if v is None:
        return absent
    lo = _map_value(stats.get(f"{spec.col}__kmin"), pos, n)
    hi = _map_value(stats.get(f"{spec.col}__kmax"), pos, n)
    return absent | _range(spec.op, lo, hi, v)[1]


def unit_tri(spec, stats, kinds, n_rows: np.ndarray, opts=None) -> tuple:
    """Kleene tri-state ``(t, f)`` of ``spec`` per unit — a manifest block
    or a 512-row chunk: f[i] => no row of unit i evaluates TRUE (prune),
    t[i] => none evaluates FALSE (the dual ``Not`` swaps in).

    ``stats`` maps manifest stat names (``{col}__min/__max/__nulls``,
    ``__dict``, ``__bloom``, ``__elem_min/max``, ``__len_min/max``,
    ``__keys``, ``__kmin/__kmax``) to per-unit pyarrow arrays in the
    :func:`stat_domain` domains, or to ``(values, valid)`` numpy pairs
    (``chunk_keep``); ``n_rows`` holds each unit's row count and
    ``kinds`` maps column name -> ColumnSpec. Every leaf reads what
    filterspec's Catalyst ``keep()``/``not_true()`` read, so over the
    manifest it selects their block set. A NULL or missing stat is
    Unknown — never a wrong skip."""
    from aisle_spark import filterspec as fs

    opts = opts or fs.DEFAULT_OPTIONS
    n = len(n_rows)
    no = np.zeros(n, dtype=bool)

    def tri(s):
        return unit_tri(s, stats, kinds, n_rows, opts)

    if isinstance(spec, (fs.And, fs.Or)):
        ts, fs_ = zip(*(tri(p) for p in spec.parts))
        if isinstance(spec, fs.And):
            return reduce(np.logical_and, ts), reduce(np.logical_or, fs_)
        return reduce(np.logical_or, ts), reduce(np.logical_and, fs_)
    if isinstance(spec, fs.Not):
        t, f = tri(spec.inner)
        return f, t
    if isinstance(spec, fs.AlwaysTrue):
        return ~no, no
    if isinstance(spec, fs.Between):
        return tri(spec._parts())
    so = kinds.get(getattr(spec, "col", None))
    if isinstance(spec, (fs.Cmp, fs.InList)):
        # InList = OR of eq bounds; string eq/IN add dict + bloom evidence
        if isinstance(spec, fs.Cmp):
            op, values = spec.op, (spec.value,)
        else:
            op, values = "eq", spec.values
        if not values:
            return no, ~no
        lo, hi, has_nulls, empty = _scalar(stats, spec.col, n_rows)
        lits = [_lit(so, v) for v in values]
        ts, fs_ = zip(
            *((no, no) if v is None else _range(op, lo, hi, v, has_nulls) for v in lits)
        )
        t, f = reduce(np.logical_or, ts) | empty, reduce(np.logical_and, fs_) | empty
        if op == "eq" and None not in lits and so.kind in ("string", "binary"):
            if opts.use_dict:
                f = f | _absent(stats.get(f"{spec.col}__dict"), lits, n)
            if opts.use_bloom:
                f = f | _bloom_absent(stats.get(f"{spec.col}__bloom"), lits, n)
        return t, f
    if isinstance(spec, fs.StartsWith):
        if so is None or so.kind != "string":
            return no, no
        lo, hi, has_nulls, empty = _scalar(stats, spec.col, n_rows)
        p, keep, not_true = spec.prefix, ~no, has_nulls
        if p:  # range rewrite [p, next_prefix(p)); "" matches every string
            keep = _may(hi, "ge", p)
            not_true = _may(lo, "lt", p) | has_nulls
            np_ = fs.next_prefix(p)
            if np_ is not None:
                keep = keep & _may(lo, "lt", np_)
                not_true = not_true | _may(hi, "ge", np_)
        return ~not_true | empty, ~keep | empty
    if isinstance(spec, fs.IsNull):
        nl, ok = _nulls(stats, spec.col, n)
        t, f = ok & (nl == n_rows), ok & (nl == 0)
        return (f, t) if spec.negated else (t, f)
    if isinstance(spec, fs.ArrayLen):
        nl, ok = _nulls(stats, spec.col, n)
        lo = _stat(stats, f"{spec.col}__len_min", n)
        hi = _stat(stats, f"{spec.col}__len_max", n)
        return _range(spec.op, lo, hi, int(spec.value), ~ok | (nl != 0))
    if isinstance(spec, fs.ArrayAny):
        ek = {"intlist": "int", "floatlist": "float"}.get(so.kind) if so else None
        v = _lit_num(spec.value, ek) if ek else None
        if v is None:
            return no, no
        lo = _stat(stats, f"{spec.col}__elem_min", n)
        hi = _stat(stats, f"{spec.col}__elem_max", n)
        return _range(spec.op, lo, hi, v)
    if isinstance(spec, fs.MapKeyCmp):
        if so is None or so.kind != "map":
            return no, no
        return no, _map_key_f(stats, so, spec, n)
    return no, no  # Like / Regexp: residual-only, Unknown


# column kinds whose blocks carry {c}__chunk_min/__chunk_max/__chunk_nulls
CHUNK_KINDS = ("int", "timestamp", "duration", "decimal", "float", "string", "binary")


def _chunk_bounds(vals: list, kind: str, all_null: np.ndarray) -> tuple:
    """(values, valid) of one chunk min or max array."""
    if kind not in ("string", "binary"):
        dt = np.float64 if kind == "float" else np.int64
        return np.asarray(vals, dtype=dt), np.ones(len(vals), dtype=bool)
    # an all-NULL chunk records None bounds — the empty set's, not missing
    # stats — while a truncation overflow's None max stays missing
    blank = "" if kind == "string" else b""
    valid = np.array([x is not None for x in vals], dtype=bool) | all_null
    return np.array([blank if x is None else x for x in vals], dtype=object), valid


def _chunk_lens(n: int) -> np.ndarray:
    k = n_chunks(n)
    lens = np.full(k, ROW_CHUNK, dtype=np.int64)
    if n % ROW_CHUNK:
        lens[-1] = n % ROW_CHUNK
    return lens


def chunk_keep(spec, row: dict, kinds, n_rows: int) -> np.ndarray:
    """keep[i] = chunk i may contain a matching row (~f). ``kinds`` maps
    column name -> ColumnSpec. A block whose mask is all-False is skipped
    before any payload decode. Only the chunk min/max/nulls arrays reach
    the evaluator: block-only evidence (dict, bloom, list and map stats)
    is missing here, hence Unknown."""
    lens = _chunk_lens(n_rows)
    stats = {}
    for c in spec.columns():
        so = kinds.get(c)
        arrs = [row.get(f"{c}__chunk_{s}") for s in ("min", "max", "nulls")]
        if so is None or so.kind not in CHUNK_KINDS or any(a is None for a in arrs):
            continue
        nl = np.asarray(arrs[2], dtype=np.int64)
        stats[f"{c}__min"] = _chunk_bounds(arrs[0], so.kind, nl == lens)
        stats[f"{c}__max"] = _chunk_bounds(arrs[1], so.kind, nl == lens)
        stats[f"{c}__nulls"] = (nl, np.ones(len(nl), dtype=bool))
    _, f = unit_tri(spec, stats, kinds, lens)
    return ~f
