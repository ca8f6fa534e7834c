"""The benchmark's closed-loop workloads.

One client in one driver process sends the next operation only after the
previous one has returned. Every input is generated from the run's seed
with ``aisle_spark.schema.synth_batch``; the engine sees only those rows.
Each operation's result is checked against ``oracle.TableOracle``.
"""

from __future__ import annotations

import contextlib
import itertools
import random
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from oracle import (
    Expected,
    Pred,
    TableOracle,
    all_of,
    doc_id_is,
    n_tok_between,
    source_in,
    source_is,
)

SORT_COLS = ["source", "n_tok"]

# table sizes (rows); the sizes these give are listed in BENCHMARK.json
SCAN_ROWS = 32768
INGEST_ROWS = 32768


@dataclass
class Op:
    """One timed operation of a closed loop."""

    kind: str  # "read" | "write"
    name: str
    op_id: str
    wall_s: float
    start: float  # epoch seconds, to match Spark's event log
    end: float
    tokens: int = 0  # token values committed (write) or delivered (read)
    ok: bool = True
    traced: bool = False


@dataclass(frozen=True)
class Query:
    """One query of a read mix, on one user surface.

    ``lib`` runs ``pipeline.scan`` (or ``scan_count``) over
    ``read_encoded``; ``ds`` runs ``spark.read.format("aisle")``. ``spec``
    builds the filterspec predicate (library ``where``, and the prune
    spec the DataSource derives from the pushed filter ``sql``);
    ``where_option`` is a SQL string for the DataSource ``where`` option."""

    name: str
    surface: str
    shape: str  # "count" | "ntok" | "tokens"
    pred: Pred | None
    spec: Callable | None = None
    sql: str | None = None
    where_option: str | None = None
    columns: tuple[str, ...] = ()

    def prune_spec(self):
        if self.where_option is not None:
            from aisle_spark.sqlcompile import parse_where

            return parse_where(self.where_option)
        return self.spec() if self.spec else None

    def run(self, spark, path: str) -> Expected:
        from pyspark.sql import functions as F

        if self.surface == "lib":
            from aisle_spark.pipeline import read_encoded, scan, scan_count

            blocks, schema = read_encoded(spark, path)
            where = self.spec() if self.spec else None
            if self.shape == "count":
                return Expected(int(scan_count(blocks, schema, where=where).collect()[0][0]))
            df = scan(blocks, schema, where=where, columns=list(self.columns))
        else:
            reader = spark.read.format("aisle").option("columns", ",".join(self.columns))
            if self.where_option:
                reader = reader.option("where", self.where_option)
            df = reader.load(path)
            if self.sql:
                df = df.filter(F.expr(self.sql))
        aggs = [F.count(F.lit(1)), F.sum("n_tok")]
        if self.shape == "tokens":
            aggs += [F.sum(F.size("tokens")), F.sum(F.hash("tokens").cast("long"))]
        row = df.agg(*aggs).collect()[0]
        return Expected(*[None if v is None else int(v) for v in row])


def selective_queries(target_doc: str) -> list[Query]:
    from aisle_spark.filterspec import col

    ntok = ("doc_id", "n_tok")
    return [
        Query("source_eq.lib", "lib", "tokens", source_is("code"),
              spec=lambda: col("source") == "code", columns=(*ntok, "tokens")),
        Query("source_eq.ds", "ds", "ntok", source_is("code"),
              spec=lambda: col("source") == "code", sql="source = 'code'",
              columns=(*ntok, "source")),
        Query("range_and_eq.lib", "lib", "tokens",
              all_of(n_tok_between(1000, 2000), source_is("books")),
              spec=lambda: col("n_tok").between(1000, 2000) & (col("source") == "books"),
              columns=("n_tok", "tokens")),
        Query("doc_id_point.lib", "lib", "ntok", doc_id_is(target_doc),
              spec=lambda: col("doc_id") == target_doc, columns=ntok),
        Query("doc_id_point.ds", "ds", "ntok", doc_id_is(target_doc),
              spec=lambda: col("doc_id") == target_doc,
              sql=f"doc_id = '{target_doc}'", columns=ntok),
        Query("chunk_point.lib", "lib", "ntok",
              all_of(source_is("web"), n_tok_between(777, 777)),
              spec=lambda: (col("source") == "web") & (col("n_tok") == 777),
              columns=ntok),
        Query("count_pushdown.lib", "lib", "count", n_tok_between(1, 1 << 30),
              spec=lambda: col("n_tok") >= 1),
        Query("sql_where.ds", "ds", "ntok",
              all_of(source_in(["code", "books"]), n_tok_between(100, 300)),
              where_option="source IN ('code', 'books') AND n_tok BETWEEN 100 AND 300",
              columns=ntok),
    ]


def full_queries() -> list[Query]:
    cols = ("tokens", "n_tok")
    return [
        Query("full.lib", "lib", "tokens", None, columns=cols),
        Query("full.ds", "ds", "tokens", None, columns=cols),
    ]


def write_input(spark, path: Path, start: int, rows: int, files: int, seed: int) -> None:
    """Generate rows [start, start+rows) as ``files`` parquet files, on
    the Spark executors (``synth_batch`` per Arrow batch)."""

    def gen(batches):
        from aisle_spark.schema import synth_batch

        for b in batches:
            ids = b.column(0).to_numpy()
            if ids.size:
                yield synth_batch(int(ids[0]), ids.size, seed)

    spark.range(start, start + rows, 1, files).mapInArrow(
        gen, "doc_id string, tokens array<int>, n_tok int, source string"
    ).write.parquet(str(path))


def read_input(path: Path) -> pa.Table:
    return pq.ParquetDataset(str(path)).read()


def pick_doc(doc_ids, seed: int) -> str:
    """A seeded doc_id of the table, for point lookups."""
    return doc_ids[int(np.random.default_rng(seed).integers(len(doc_ids)))].as_py()


def pc_sum(arr) -> int:
    import pyarrow.compute as pc

    return pc.sum(arr).as_py() or 0


def committed_bytes(path: str) -> int:
    """Bytes of the data files the table's manifest commits."""
    from aisle_spark.pipeline import load_manifest

    files = load_manifest(None, path)["files"]
    return sum((Path(path) / f).stat().st_size for f in files)


def dir_bytes(path: Path) -> int:
    return sum(
        p.stat().st_size
        for p in path.rglob("*.parquet")
        if not p.name.startswith(("_", "."))
    )


class Workload:
    """Base class: owns the run's paths, seed and op bookkeeping.

    ``setup(rep)`` generates the inputs and pre-encodes what the loop
    reads; it runs several times per run (the median is part of
    ``setup_s``) and returns the write ops it timed. ``prepare()`` then
    builds the oracle and the parquet-zstd reference once, untimed.
    ``warm()`` runs each kind of op once, so first-of-kind costs stay out
    of op latencies. ``step(i)`` is one turn of the closed loop."""

    name = ""

    def __init__(self, spark, work: Path, seed: int, cores: int):
        self.spark = spark
        self.work = work / self.name
        self.seed = seed
        self.cores = cores
        self.failed_checks: list[str] = []
        self.stored_bytes = 0
        self.ref_bytes = 0
        self.table = ""  # the table last committed (for the replay)
        self.oracle: TableOracle | None = None  # answers over ``table``
        self.target_doc = ""  # the doc_id point lookups ask for
        self.queries: list[Query] = []
        self.last_encode: Op | None = None
        self.scope: Callable[[str, bool], contextlib.AbstractContextManager] = (
            lambda op_id, traced: contextlib.nullcontext()
        )
        self.traced = False
        self._ids = itertools.count()

    # -- helpers ---------------------------------------------------------
    def timed(self, kind: str, name: str, fn: Callable[[], object]) -> tuple[Op, object]:
        sc = self.spark.sparkContext
        op_id = f"{self.name}.{next(self._ids)}.{name}"
        sc.setLocalProperty("perfbench.op", op_id)
        result, ok = None, True
        start = time.time()
        t0 = time.perf_counter()
        try:
            with self.scope(op_id, self.traced):
                result = fn()
        except Exception:  # a failed op is counted, never fatal
            traceback.print_exc(file=sys.stderr)
            ok = False
        wall = time.perf_counter() - t0
        end = time.time()
        sc.setLocalProperty("perfbench.op", None)
        return Op(kind, name, op_id, wall, start, end, ok=ok, traced=self.traced), result

    def query_op(self, q: Query, path: str, oracle: TableOracle) -> Op:
        op, got = self.timed("read", q.name, lambda: q.run(self.spark, path))
        want = oracle.expect(q.pred, q.shape)
        if op.ok and got != want:
            print(f"# MISMATCH {op.op_id}: got {got} want {want}", file=sys.stderr)
            op.ok = False
        if op.ok and q.shape == "tokens":
            op.tokens = want.tokens or 0
        return op

    def encode(self, inp: Path, out: Path) -> Op:
        from aisle_spark.pipeline import DEFAULT_BLOCK_ROWS, encode_files_direct

        n_tok = pq.ParquetDataset(str(inp)).read(columns=["n_tok"]).column(0)
        parts = max(self.cores, len(n_tok) // (8 * DEFAULT_BLOCK_ROWS))
        op, _ = self.timed(
            "write",
            "encode",
            lambda: encode_files_direct(
                self.spark, str(inp), str(out), parts=parts, sort_cols=SORT_COLS
            ),
        )
        if op.ok:
            op.tokens = int(pc_sum(n_tok))
            self.last_encode = op
        return op

    def zstd_bytes(self, srcs: list[Path], out: Path) -> int:
        """Spark parquet-zstd bytes of the same rows: the reference."""
        self.spark.read.parquet(*map(str, srcs)).write.option(
            "compression", "zstd"
        ).parquet(str(self.fresh(out)))
        return dir_bytes(self.work / out)

    def fresh(self, sub: str) -> Path:
        p = self.work / sub
        shutil.rmtree(p, ignore_errors=True)
        return p

    def drop(self, *subs: str) -> None:
        for sub in subs:
            shutil.rmtree(self.work / sub, ignore_errors=True)

    # -- interface -------------------------------------------------------
    def setup(self, rep: int) -> list[Op]:
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def step(self, i: int) -> list[Op]:
        raise NotImplementedError


def _must(ops: list[Op], what: str) -> None:
    if not all(o.ok for o in ops):
        raise RuntimeError(f"{what} failed or returned a wrong result")


class ScanSelective(Workload):
    """A seeded mix of pruned queries over one table pre-encoded in
    set-up. The encode of each set-up repetition is this workload's write
    sample; the exact files/blocks each query keeps must repeat across
    repetitions."""

    name = "scan_selective"

    def setup(self, rep: int) -> list[Op]:
        from planning import plan_counts

        inp, out = self.fresh(f"in{rep}"), self.fresh(f"t{rep}")
        write_input(self.spark, inp, 0, SCAN_ROWS, self.cores, self.seed)
        op = self.encode(inp, out)
        _must([op], "set-up encode")
        if rep == 0:
            doc_ids = pq.ParquetDataset(str(inp)).read(columns=["doc_id"]).column(0)
            self.target_doc = pick_doc(doc_ids, self.seed)
            self.queries = selective_queries(self.target_doc)
        counts = plan_counts(str(out), self.queries)
        if rep == 0:
            self.kept_counts = counts
        elif counts != self.kept_counts:
            self.failed_checks.append(f"kept counts differ in set-up {rep}: {counts}")
        if rep:
            self.drop(f"in{rep - 1}", f"t{rep - 1}")
        self.input, self.table = inp, str(out)
        return [op]

    def prepare(self) -> None:
        self.oracle = TableOracle(read_input(self.input))
        self.stored_bytes = committed_bytes(self.table)
        self.ref_bytes = self.zstd_bytes([self.input], "zstd")

    def warm(self) -> None:
        # concurrent: warm-up is not measured, and this halves its wall
        with ThreadPoolExecutor(len(self.queries)) as ex:
            ops = list(ex.map(lambda q: self.query_op(q, self.table, self.oracle), self.queries))
        _must(ops, "warm-up")

    def step(self, i: int) -> list[Op]:
        if i % len(self.queries) == 0:  # a seeded order for every cycle
            self.order = random.Random(self.seed * 1009 + i).sample(
                self.queries, len(self.queries)
            )
        q = self.order[i % len(self.queries)]
        return [self.query_op(q, self.table, self.oracle)]


class Ingest(Workload):
    """Encode the seeded input into a new directory, then read the new
    table back in full (count, token total, token checksum), alternating
    the library and DataSource surfaces, to verify it."""

    name = "ingest"

    def setup(self, rep: int) -> list[Op]:
        write_input(self.spark, self.fresh("in"), 0, INGEST_ROWS, self.cores, self.seed)
        return []

    def prepare(self) -> None:
        self.input = self.work / "in"
        self.oracle = TableOracle(read_input(self.input))
        self.target_doc = pick_doc(self.oracle.doc_id, self.seed)
        self.ref = self.zstd_bytes([self.input], "zstd")
        self.queries = full_queries()

    def warm(self) -> None:
        out = self.fresh("warm")
        _must([self.encode(self.input, out)], "warm-up encode")
        with ThreadPoolExecutor(len(self.queries)) as ex:
            ops = list(ex.map(lambda q: self.query_op(q, str(out), self.oracle), self.queries))
        _must(ops, "warm-up")
        self.drop("warm")

    def step(self, i: int) -> list[Op]:
        out = self.fresh(f"out{i}")
        ops = [self.encode(self.input, out)]
        ops.append(self.query_op(self.queries[i % len(self.queries)], str(out), self.oracle))
        if ops[0].ok:
            self.stored_bytes, self.ref_bytes = committed_bytes(str(out)), self.ref
        if self.table:
            shutil.rmtree(self.table, ignore_errors=True)
        self.table = str(out)
        return ops


WORKLOADS = {w.name: w for w in (Ingest, ScanSelective)}
