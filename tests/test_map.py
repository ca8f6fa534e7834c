"""Map key/value dotted-path predicates — the map half of the reference's
prune_list_map coverage (/root/reference/tests/prune_list_map.rs,
src/prune/stats.rs:412-488): per-block sorted key set (definite absence)
+ per-key value min/max under the MAP_KEYS_MAX cardinality cap, with a
try_element_at residual. Exact skip counts, round-trip identity, and a
DuckDB oracle over the same parquet."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from aisle_spark.blocks import decode_block, encode_block
from aisle_spark.filterspec import MapKeyCmp, col
from aisle_spark.schema import MAP_KEYS_MAX, specs_for_schema

MT = pa.map_(pa.string(), pa.int64())


def _block(values: dict[str, pa.Array]):
    schema = pa.schema([pa.field(k, v.type) for k, v in values.items()])
    specs = specs_for_schema(schema)
    return specs, encode_block(
        specs, pa.Table.from_arrays(list(values.values()), schema=schema), 0, 0
    )


class TestRoundtrip:
    @pytest.mark.parametrize(
        "vals,typ",
        [
            ([[("k", 1), ("x", -5)], None, [], [("k", None)]], MT),
            (
                [[("a", "hi"), ("b", None)], [], None, [("a", "zz" * 100)]],
                pa.map_(pa.string(), pa.string()),
            ),
            (
                [[("f", 1.5), ("g", float("nan"))], [("f", -0.0)], None],
                pa.map_(pa.string(), pa.float64()),
            ),
            ([[("b", True), ("c", False)], None], pa.map_(pa.string(), pa.bool_())),
        ],
    )
    def test_roundtrip_exact(self, vals, typ):
        import struct as _s

        arr = pa.array(vals, type=typ)
        specs, row = _block({"p": arr})
        out = decode_block(specs, row).column("p")

        def canon(r):  # bit-exact float compare (NaN payloads, -0.0)
            if r is None:
                return None
            return [
                (k, _s.pack("<d", v).hex() if isinstance(v, float) else v)
                for k, v in r
            ]

        assert [canon(r) for r in out.to_pylist()] == [
            canon(r) for r in arr.to_pylist()
        ]

    def test_many_rows_roundtrip(self):
        rng = np.random.default_rng(7)
        vals = [
            None
            if i % 13 == 0
            else [(f"key_{j}", int(rng.integers(0, 1000))) for j in range(i % 5)]
            for i in range(5000)
        ]
        arr = pa.array(vals, type=MT)
        specs, row = _block({"p": arr})
        assert decode_block(specs, row).column("p").equals(arr)


class TestStats:
    def test_key_set_and_ranges(self):
        arr = pa.array([[("k", i), ("x", -i)] for i in range(100)], type=MT)
        _, row = _block({"p": arr})
        assert row["p__keys"] == ["k", "x"]
        assert row["p__kmin"] == [0, -99]
        assert row["p__kmax"] == [99, 0]

    def test_over_cap_goes_null(self):
        arr = pa.array(
            [[(f"key_{i}_{j}", j) for j in range(2)] for i in range(MAP_KEYS_MAX)],
            type=MT,
        )
        _, row = _block({"p": arr})
        assert row["p__keys"] is None
        assert row["p__kmin"] is None

    def test_no_entries_is_exact_empty_evidence(self):
        arr = pa.array([None, [], None], type=MT)
        _, row = _block({"p": arr})
        assert row["p__keys"] == []

    def test_nan_key_stats_null(self):
        arr = pa.array(
            [[("a", 1.5), ("b", float("nan"))]], type=pa.map_(pa.string(), pa.float64())
        )
        _, row = _block({"p": arr})
        assert row["p__keys"] == ["a", "b"]
        assert row["p__kmin"] == [1.5, None]  # NaN key => Unknown, kept


class TestPruning:
    def _blocks(self, spark):
        from pyspark.sql import functions as F

        from aisle_spark.pipeline import arrow_schema_of, encode_table

        df = spark.range(0, 2048).select(
            F.col("id"),
            F.concat(F.lit("t"), (F.col("id") % 4).cast("string")).alias("etype"),
            F.when(F.col("id") % 7 == 0, None)
            .otherwise(
                F.map_from_arrays(
                    F.array(
                        F.concat(F.lit("key_"), (F.col("id") % 4).cast("string")),
                        F.lit("k"),
                    ),
                    F.array(F.col("id") % 100, F.col("id")),
                )
            )
            .alias("props"),
        )
        blocks = encode_table(df, parts=1, block_rows=256, sort_cols=["etype"]).cache()
        return df, blocks, arrow_schema_of(df)

    def test_key_absence_skips_blocks_exactly(self, spark):
        df, blocks, schema = self._blocks(spark)
        n = blocks.count()
        spec = col("props").map_key("key_2") >= 0
        kept = blocks.filter(spec.keep_blocks()).count()
        # sorted by etype: key_2 exists only in the t2 quarter (2 of 8
        # blocks) plus at most one boundary block
        assert kept < n and kept <= n // 4 + 1
        blocks.unpersist()

    def test_scan_matches_spark_native(self, spark):
        from pyspark.sql import functions as F

        from aisle_spark.pipeline import scan

        df, blocks, schema = self._blocks(spark)
        cases = [
            (col("props").map_key("key_1") >= 50, F.try_element_at("props", F.lit("key_1")) >= 50),
            (col("props").map_key("k") < 100, F.try_element_at("props", F.lit("k")) < 100),
            (col("props").map_key("k") != 5, F.try_element_at("props", F.lit("k")) != 5),
            (col("props").map_key("missing") == 1, F.try_element_at("props", F.lit("missing")) == 1),
            (~(col("props").map_key("key_3") > 10), ~(F.try_element_at("props", F.lit("key_3")) > 10)),
            (
                (col("props").map_key("k") >= 100) & (col("etype") == "t1"),
                (F.try_element_at("props", F.lit("k")) >= 100) & (F.col("etype") == "t1"),
            ),
        ]
        for spec, ref in cases:
            got = sorted(r.id for r in scan(blocks, schema, where=spec, columns=["id"]).collect())
            exp = sorted(r.id for r in df.filter(ref).select("id").collect())
            assert got == exp, f"{spec!r}: {len(got)} vs {len(exp)}"
        blocks.unpersist()

    def test_tri_matches_keep_duals(self, spark):
        from aisle_spark.schema import specs_for_schema
        from tests.test_prune_sql import evaluator_blocks

        df, blocks, schema = self._blocks(spark)
        stats = blocks.select(
            [c for c in blocks.columns if not c.endswith("__payload")]
        ).toArrow()
        for spec in [
            col("props").map_key("k").__le__(500),
            ~(col("props").map_key("key_0") == 3),
            col("props").map_key("nope") > 0,
        ]:
            t = evaluator_blocks(stats, specs_for_schema(schema), spec)
            kept = blocks.filter(spec.keep_blocks()).select("block_id").collect()
            k = {r.block_id for r in kept}
            assert t == k
        blocks.unpersist()


class TestOracle:
    def test_duckdb_oracle_parity(self, spark, tmp_path):
        """scan + to_sql against DuckDB reading the SAME parquet (map type
        flows through parquet natively on both sides)."""
        import duckdb

        from aisle_spark.pipeline import arrow_schema_of, encode_table, scan

        df, blocks, schema = TestPruning()._blocks(spark)
        raw = str(tmp_path / "raw.parquet")
        df.write.mode("overwrite").parquet(raw)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW t AS SELECT * FROM read_parquet('{raw}/*.parquet')"
        )
        for spec in [
            col("props").map_key("k") < 777,
            col("props").map_key("key_2") >= 10,
            col("props").map_key("absent") == 1,
        ]:
            got = sorted(
                r.id for r in scan(blocks, schema, where=spec, columns=["id"]).collect()
            )
            exp = sorted(
                r[0]
                for r in con.execute(
                    f"SELECT id FROM t WHERE {spec.to_sql()}"
                ).fetchall()
            )
            assert got == exp, spec.to_sql()
        blocks.unpersist()


class TestConjunctPartnerRefinement:
    """Map predicates have no chunk tier (per-key chunk stats would be
    unbounded), but a SCALAR conjunct in the same top-level AND must
    still refine: chunk-skip and row-mask run on the scalar
    sub-conjunction (an And-subset only loosens — the caller's residual
    re-checks the map part), so map payloads decode only for surviving
    rows (VERDICT r3 next #6)."""

    def _mixed_block(self, n=4096):
        n_col = pa.array(np.arange(n, dtype=np.int64))
        props = pa.array(
            [[("a", int(i % 7))] for i in range(n)], type=MT
        )
        return _block({"n": n_col, "props": props})

    def test_scalar_partner_chunk_skip_decodes_zero_rows(self):
        from aisle_spark.blocks import decode_block_filtered

        specs, row = self._mixed_block()
        # no 512-row chunk contains n == 10**9 => zero rows come back
        # WITHOUT a full-block decode (the old path bailed to full decode
        # whenever a map conjunct was present)
        where = (col("props").map_key("a") == 1) & (col("n") == 10**9)
        out = decode_block_filtered(specs, row, ["n", "props"], where)
        assert out.num_rows == 0

    def test_scalar_partner_mask_limits_map_rows(self):
        from aisle_spark.blocks import decode_block_filtered

        specs, row = self._mixed_block()
        where = (col("props").map_key("a") == 3) & (col("n") < 100)
        out = decode_block_filtered(specs, row, ["n", "props"], where)
        # superset semantics: every n >= 100 row is masked out by the
        # scalar conjunct; the map conjunct is left to the residual
        got_n = out.column("n").to_pylist()
        assert got_n and max(got_n) < 100
        assert set(got_n) == set(range(100))  # nothing under 100 dropped

    def test_bare_map_predicate_still_full_decodes(self):
        from aisle_spark.blocks import decode_block_filtered

        specs, row = self._mixed_block()
        out = decode_block_filtered(
            specs, row, ["n", "props"], col("props").map_key("a") == 3
        )
        assert out.num_rows == 4096  # no scalar partner: superset = all

    def test_or_with_map_predicate_not_split(self):
        from aisle_spark.blocks import decode_block_filtered

        specs, row = self._mixed_block()
        where = (col("props").map_key("a") == 3) | (col("n") < 10)
        out = decode_block_filtered(specs, row, ["n", "props"], where)
        assert out.num_rows == 4096  # OR cannot be narrowed soundly

    def test_scan_results_exact_with_mixed_conjunction(self, spark):
        from pyspark.sql import functions as F

        from aisle_spark.pipeline import arrow_schema_of, encode_table, scan

        rows = [
            {"n": i, "props": {"a": i % 7, "b": i % 3}} for i in range(3000)
        ]
        df = spark.createDataFrame(
            pa.Table.from_pylist(
                rows,
                schema=pa.schema(
                    [pa.field("n", pa.int64()), pa.field("props", MT)]
                ),
            )
        )
        blocks = encode_table(df, parts=2, block_rows=512, sort_cols=["n"])
        got = scan(
            blocks,
            arrow_schema_of(df),
            where=(col("props").map_key("a") == 2) & (col("n").between(700, 900)),
        )
        exp = df.filter(
            (F.try_element_at("props", F.lit("a")) == 2)
            & F.col("n").between(700, 900)
        )
        assert sorted(r.n for r in got.collect()) == sorted(
            r.n for r in exp.collect()
        )
