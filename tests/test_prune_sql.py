"""Differential test of the planner's block tier: for randomized predicate
trees (the same generator the Catalyst soundness sweep uses) over one
encoded manifest, the numpy evaluator ``chunkstats.unit_tri``, run over
the manifest as the DataSource planner reads it (pyarrow, stat columns
mapped into the evaluator's domains), must select exactly the block set
``filterspec.keep()`` selects through Catalyst — both with evidence on
and off."""

from __future__ import annotations

import glob
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aisle_spark.chunkstats import stat_domain, unit_tri
from aisle_spark.datasource import _load_stats
from aisle_spark.filterspec import PruneOptions, col, utc_normalize
from aisle_spark.pipeline import arrow_schema_of, encode_table, write_encoded
from aisle_spark.schema import specs_for_schema, synth_batch

from tests.test_random_predicates import _rand_spec

_NOT_STATS = ("__payload", "__chunk_min", "__chunk_max", "__chunk_nulls")


def manifest_table(out: str) -> pa.Table:
    """Every block row of an encoded dir, read through the planner's own
    stat loader."""
    tables = []
    for f in sorted(glob.glob(f"{out}/*.parquet")):
        names = [n for n in pq.read_schema(f).names if not n.endswith(_NOT_STATS)]
        tables.append(_load_stats(None, f, names))
    return pa.concat_tables(tables, promote_options="default")


def evaluator_blocks(tbl: pa.Table, specs, spec, opts=PruneOptions()) -> set:
    """block_ids the numpy evaluator keeps over manifest rows ``tbl``."""
    stats = {n: stat_domain(tbl.column(n)) for n in tbl.column_names}
    kinds = {s.name: s for s in specs}
    n_rows = stats["n_rows"].to_numpy(zero_copy_only=False)
    _, f = unit_tri(utc_normalize(spec), stats, kinds, n_rows, opts)
    return set(np.asarray(tbl.column("block_id"))[~f].tolist())


def _catalyst(blocks, spec, opts=PruneOptions()) -> set:
    return {r.block_id for r in blocks.filter(spec.keep(opts)).select("block_id").collect()}


def _encode(df, out: str, **kw):
    blocks = encode_table(df, **kw).cache()
    write_encoded(blocks, out, arrow_schema_of(df))
    return blocks, manifest_table(out), specs_for_schema(arrow_schema_of(df))


@pytest.fixture(scope="module")
def manifest(spark, tmp_path_factory):
    """Encoded blocks both as a cached DataFrame (Catalyst side) and as
    the planner's pyarrow read of the written parquet (evaluator side)."""
    df = spark.createDataFrame(pa.Table.from_batches([synth_batch(3, 3000)]))
    out = str(tmp_path_factory.mktemp("prunesql") / "enc")
    return _encode(df, out, parts=4, block_rows=256, sort_cols=["source", "n_tok"])


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_keep_sql_matches_catalyst(spark, manifest, seed):
    blocks, tbl, specs = manifest
    rng = random.Random(seed)
    for _ in range(20):
        spec = _rand_spec(rng)
        for opts in (PruneOptions(), PruneOptions(use_dict=False, use_bloom=False)):
            got = evaluator_blocks(tbl, specs, spec, opts)
            assert got == _catalyst(blocks, spec, opts), f"seed={seed} spec={spec!r} {opts}"


def test_keep_sql_typed_operands(spark, tmp_path):
    """Decimal, timestamp, date, duration, binary, map-key and nested
    struct leaves through both evaluators."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    rows = []
    rng = random.Random(5)
    for i in range(2000):
        null = rng.random() < 0.06
        rows.append(
            (
                f"d{i:05d}",
                None if null else Decimal(rng.randrange(0, 100000)).scaleb(-2),
                None if null else dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
                None if null else dt.date(2024, 1, 1) + dt.timedelta(days=i % 90),
                None if null else dt.timedelta(seconds=rng.randrange(0, 50000)),
                None if null else bytes([rng.randrange(65, 91) for _ in range(4)]),
                None if rng.random() < 0.1 else {"score": rng.randrange(100)},
                (rng.choice(["en", "de", "fr"]), f"s{i % 7}"),
            )
        )
    sch = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField("ts", T.TimestampType()),
            T.StructField("d", T.DateType()),
            T.StructField("dur", T.DayTimeIntervalType()),
            T.StructField("blob", T.BinaryType()),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("lang", T.StringType()),
                        T.StructField("src", T.StringType()),
                    ]
                ),
            ),
        ]
    )
    df = spark.createDataFrame(rows, sch)
    blocks, tbl, specs = _encode(
        df, str(tmp_path / "enc"), parts=2, block_rows=256, sort_cols=["id"]
    )

    checks = [
        col("price") > Decimal("333.33"),
        col("price").between(Decimal("100.00"), Decimal("200.00")),
        col("ts") >= dt.datetime(2024, 1, 1, 12, 0),
        ~(col("ts") < dt.datetime(2024, 1, 1, 6, 30)),
        col("d") == dt.date(2024, 2, 1),
        col("dur") <= dt.timedelta(seconds=20000),
        col("blob") >= b"MA",
        col("id").startswith("d001"),
        col("id").like("d00%"),
        col("id").like("%7"),  # residual-only Like: keep everything
        col("m").map_key("score") > 50,
        col("meta.lang") == "en",
        (col("meta.lang") == "de") | (col("price") < Decimal("50.00")),
        col("price").is_null(),
        col("blob").is_not_null() & (col("d") != dt.date(2024, 1, 5)),
    ]
    for spec in checks:
        assert evaluator_blocks(tbl, specs, spec) == _catalyst(blocks, spec), f"spec={spec!r}"
    blocks.unpersist()


def test_keep_sql_adversarial_strings(spark, tmp_path):
    """Values containing quotes/backslashes/unicode must select the same
    blocks as Catalyst."""
    from pyspark.sql import types as T

    nasty = ["o'brien", "100%", "back\\slash", "émoji🙂", "''", "plain"]
    rows = [(i, nasty[i % len(nasty)]) for i in range(600)]
    df = spark.createDataFrame(
        rows, T.StructType([T.StructField("id", T.LongType()), T.StructField("s", T.StringType())])
    )
    blocks, tbl, specs = _encode(
        df, str(tmp_path / "enc"), parts=2, block_rows=64, sort_cols=["s"]
    )
    for v in nasty:
        for spec in (col("s") == v, col("s") != v, col("s").isin(v), col("s").startswith(v[:3])):
            assert evaluator_blocks(tbl, specs, spec) == _catalyst(blocks, spec), f"{v!r} {spec!r}"
    blocks.unpersist()
