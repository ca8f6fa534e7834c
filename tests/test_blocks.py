"""Block-level round-trip incl. nulls (F3) and stats correctness."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from aisle_spark.blocks import decode_block, encode_block, encode_column, decode_column
from aisle_spark.schema import TOKEN_SCHEMA, specs_for_schema, spec_for_field, synth_batch

SPECS = specs_for_schema(TOKEN_SCHEMA)


def test_token_block_roundtrip_bit_identical():
    batch = synth_batch(0, 4096)
    row = encode_block(SPECS, batch, part_id=0, block_id=0)
    out = decode_block(SPECS, row)
    assert out.num_rows == 4096
    orig = pa.Table.from_batches([batch])
    dec = pa.Table.from_batches([out])
    assert dec.equals(orig)  # token-array equality invariant, bit-identical


def test_block_stats_are_exact():
    batch = synth_batch(0, 2048)
    row = encode_block(SPECS, batch, 0, 0)
    nt = batch.column("n_tok").to_numpy()
    assert row["n_tok__min"] == nt.min()
    assert row["n_tok__max"] == nt.max()
    assert row["n_tok__nulls"] == 0
    flat = batch.column("tokens").flatten().to_numpy()
    assert row["tokens__elem_min"] == flat.min()
    assert row["tokens__elem_max"] == flat.max()
    srcs = set(batch.column("source").to_pylist())
    assert set(row["source__dict"]) == srcs
    assert row["source__min"] == min(srcs)
    assert row["source__max"] == max(srcs)
    # compression actually happened
    assert row["tokens__enc_bytes"] < row["tokens__raw_bytes"]
    assert row["source__enc_bytes"] < row["source__raw_bytes"] / 4


def test_projection_decodes_only_requested():
    batch = synth_batch(0, 1024)
    row = encode_block(SPECS, batch, 0, 0)
    out = decode_block(SPECS, row, columns=["n_tok", "source"])
    assert out.schema.names == ["n_tok", "source"]
    np.testing.assert_array_equal(
        out.column("n_tok").to_numpy(), batch.column("n_tok").to_numpy()
    )


@pytest.mark.parametrize(
    "arr,ddl",
    [
        (pa.array([1, None, 3, None, 5], type=pa.int64()), pa.int64()),
        (pa.array([None, None, None], type=pa.int32()), pa.int32()),
        (pa.array(["a", None, "ccc", ""], type=pa.string()), pa.string()),
        (pa.array([1.5, None, float("nan")], type=pa.float64()), pa.float64()),
        (pa.array([[1, 2], None, [], [3]], type=pa.list_(pa.int32())), pa.list_(pa.int32())),
        (pa.array([True, None, False], type=pa.bool_()), pa.bool_()),
        (
            pa.array([np.datetime64("2024-01-01T12:00:00", "us"), None], type=pa.timestamp("us")),
            pa.timestamp("us"),
        ),
        (
            pa.array(
                [__import__("datetime").date(2024, 3, 1), None,
                 __import__("datetime").date(1969, 12, 31)],
                type=pa.date32(),
            ),
            pa.date32(),
        ),
        (
            pa.array([-5, None, 200], type=pa.int16()),
            pa.int16(),
        ),
    ],
)
def test_nullable_column_roundtrip(arr, ddl):
    spec = spec_for_field(pa.field("c", ddl))
    enc = encode_column(spec, arr)
    out = decode_column(spec, enc["c__payload"])
    if pa.types.is_floating(ddl):  # arrow equals() treats NaN != NaN
        assert out.is_valid().equals(arr.is_valid())
        a = out.drop_null().to_numpy(zero_copy_only=False)
        b = arr.drop_null().to_numpy(zero_copy_only=False)
        np.testing.assert_array_equal(a.view(np.uint8), b.view(np.uint8))
    else:
        assert out.equals(arr.cast(spec.arrow_type))
    assert enc["c__nulls"] == arr.null_count


def test_all_null_block_stats_are_null():
    spec = spec_for_field(pa.field("c", pa.int64()))
    arr = pa.array([None, None], type=pa.int64())
    enc = encode_column(spec, arr)
    assert enc["c__min"] is None and enc["c__max"] is None
    assert enc["c__nulls"] == 2


def test_empty_block():
    batch = synth_batch(0, 4096).slice(0, 0)
    row = encode_block(SPECS, batch, 0, 0)
    out = decode_block(SPECS, row)
    assert out.num_rows == 0


def test_filtered_decode_matches_full():
    """RowFilter-inside-reader: decode_block_filtered(selective pred) must
    equal full decode + mask, incl. chunked token slicing and timestamps."""
    import datetime

    from aisle_spark.blocks import decode_block_filtered
    from aisle_spark.filterspec import col as C

    batch = synth_batch(0, 4096)
    row = encode_block(SPECS, batch, 0, 0)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    for spec in [
        C("n_tok") == int(batch.column("n_tok")[0].as_py()),
        (C("source") == "code") & (C("n_tok") > 50),
        C("doc_id").startswith("books-"),
        C("n_tok") > 10**9,  # empty
    ]:
        got = decode_block_filtered(SPECS, row, cols, spec)
        full = decode_block(SPECS, row, cols)
        from aisle_spark.rowmask import row_mask

        mask = row_mask(spec, full)
        exp = full.filter(pa.array(mask))
        assert got.num_rows == exp.num_rows
        assert pa.Table.from_batches([got]).sort_by([("doc_id", "ascending")]).equals(
            pa.Table.from_batches([exp]).sort_by([("doc_id", "ascending")])
        )


def test_rowmask_timestamp_tz_coercion():
    import datetime

    from aisle_spark.filterspec import col as C
    from aisle_spark.rowmask import row_mask

    arr = pa.array(
        [datetime.datetime(2024, 1, 5), datetime.datetime(2024, 2, 5)],
        type=pa.timestamp("us", tz="UTC"),
    )
    b = pa.RecordBatch.from_arrays([arr], names=["ts"])
    m = row_mask(C("ts").between(datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 31)), b)
    assert m.tolist() == [True, False]


def _truncation_table(n: int = 600) -> pa.Table:
    """One column of every kind the engine encodes, with NULLs, a struct
    leaf and varied values (so the codecs pick non-trivial bodies)."""
    import datetime as dt
    import decimal

    rng = np.random.default_rng(3)

    def maybe(i, v):
        return None if i % 7 == 0 else v

    return pa.table(
        {
            "string": pa.array([maybe(i, f"w{rng.integers(10**6)}") for i in range(n)]),
            "binary": pa.array([maybe(i, rng.bytes(5)) for i in range(n)]),
            "int": pa.array([maybe(i, int(rng.integers(-(2**40), 2**40))) for i in range(n)]),
            "bool": pa.array([maybe(i, bool(i % 3)) for i in range(n)]),
            "date": pa.array(
                [maybe(i, dt.date(2024, 1, 1) + dt.timedelta(days=i % 400)) for i in range(n)]
            ),
            "float": pa.array([maybe(i, float(rng.standard_normal())) for i in range(n)]),
            "decimal": pa.array(
                [maybe(i, decimal.Decimal(int(rng.integers(10**9))).scaleb(-2)) for i in range(n)],
                pa.decimal128(12, 2),
            ),
            "timestamp": pa.array(
                [maybe(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=7 * i)) for i in range(n)],
                pa.timestamp("us", tz="UTC"),
            ),
            "duration": pa.array(
                [maybe(i, dt.timedelta(microseconds=int(rng.integers(10**12)))) for i in range(n)],
                pa.duration("us"),
            ),
            "intlist": pa.array(
                [maybe(i, [int(x) for x in rng.integers(0, 50000, i % 9)]) for i in range(n)],
                pa.list_(pa.int32()),
            ),
            "floatlist": pa.array(
                [maybe(i, [float(x) for x in rng.random(i % 5)]) for i in range(n)],
                pa.list_(pa.float32()),
            ),
            "map": pa.array(
                [maybe(i, {"k": i, f"e{i % 3}": 2 * i}) for i in range(n)],
                pa.map_(pa.string(), pa.int64()),
            ),
            "struct": pa.array(
                [maybe(i, {"leaf": maybe(i + 1, f"l{i % 11}")}) for i in range(n)],
                pa.struct([("leaf", pa.string())]),
            ),
        }
    )


@pytest.mark.parametrize(
    "column",
    ["string", "binary", "int", "bool", "date", "float", "decimal", "timestamp",
     "duration", "intlist", "floatlist", "map", "struct.leaf"],
)
def test_truncated_payload_raises(column):
    """A payload cut by 1 byte, by 8 bytes or to half its length must make
    decode_column raise — never hand back a (garbage) array."""
    import struct

    t = _truncation_table()
    spec = next(s for s in specs_for_schema(t.schema) if s.name == column)
    top, _, leaf = column.partition(".")
    arr = t.column(top).combine_chunks()
    if leaf:
        arr = arr.field(leaf)
    payload = encode_column(spec, arr)[f"{column}__payload"]
    assert decode_column(spec, payload).equals(arr)
    for cut in (payload[:-1], payload[:-8], payload[: len(payload) // 2]):
        with pytest.raises((ValueError, IndexError, struct.error)):
            decode_column(spec, cut)
