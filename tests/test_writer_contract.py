"""The writer contract: every path that writes an encoded table commits a
manifest listing exactly its data files, each with a per-file stats entry
equal to the fold of that file's block stat columns (a NULL or NaN block
bound leaves that side of the file bound Unknown)."""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from aisle_spark.datasource import register
from aisle_spark.pipeline import load_manifest
from aisle_spark.schema import synth_batch

SORT = ["source", "n_tok"]
COLS = ("doc_id", "n_tok", "source", "score", "gone")


def _table(start: int, n: int) -> pa.Table:
    """Token rows plus a float column with NULLs and NaNs (every block
    holds a NaN) and an all-NULL int column."""
    t = pa.Table.from_batches([synth_batch(start, n)])
    score = [
        None if i % 5 == 0 else (math.nan if i % 7 == 0 else i / 10)
        for i in range(start, start + n)
    ]
    return t.append_column("score", pa.array(score, pa.float64())).append_column(
        "gone", pa.nulls(n, pa.int64())
    )


def _parquet(root: str, pattern: str) -> set[str]:
    return {
        os.path.relpath(p, root)
        for p in glob.glob(os.path.join(root, pattern))
        if not os.path.basename(p).startswith(("_", "."))
    }


def _direct(spark, tmp_path):
    from aisle_spark.pipeline import encode_files_direct

    src, out = str(tmp_path / "src"), str(tmp_path / "t")
    os.makedirs(src)
    for i in range(2):
        pq.write_table(_table(i * 1500, 1500), os.path.join(src, f"f{i}.parquet"))
    encode_files_direct(spark, src, out, parts=4, sort_cols=SORT, block_rows=256)
    return out, {
        json.load(open(p))["file"] for p in glob.glob(os.path.join(out, "_done", "*.json"))
    }


def _ds(spark, tmp_path, modes):
    register(spark)
    out = str(tmp_path / "t")
    before: set[str] = set()
    for k, mode in enumerate(modes):
        before = _parquet(out, "*.parquet") if os.path.isdir(out) else set()
        spark.createDataFrame(_table(k * 1500, 1500)).repartition(2).write.format(
            "aisle"
        ).option("sortCols", ",".join(SORT)).option("blockRows", "256").mode(
            mode
        ).save(out)
    new = _parquet(out, "*.parquet")
    return out, (new - before) if modes[-1] == "overwrite" else new


def _ds_overwrite(spark, tmp_path):
    return _ds(spark, tmp_path, ["append", "overwrite"])


def _ds_append(spark, tmp_path):
    return _ds(spark, tmp_path, ["append", "append"])


def _stream_batch(spark, tmp_path):
    from aisle_spark.streaming import _encode_batch

    out = str(tmp_path / "t")
    os.makedirs(out)
    df = spark.createDataFrame(_table(0, 3000)).repartition(2)
    _encode_batch(df, 0, out, parts=2, sort_cols=SORT, block_rows=256)
    return out, _parquet(out, "stream-b*.parquet")


def _write_encoded(spark, tmp_path):
    from aisle_spark.pipeline import arrow_schema_of, encode_table, write_encoded

    out = str(tmp_path / "t")
    df = spark.createDataFrame(_table(0, 3000))
    write_encoded(
        encode_table(df, parts=2, sort_cols=SORT, block_rows=256),
        out,
        arrow_schema_of(df),
    )
    return out, _parquet(out, "*.parquet")


def _compaction(spark, tmp_path):
    from aisle_spark.maintenance import compact_encoded

    out, _files = _ds_append(spark, tmp_path)
    compact_encoded(spark, out, target_files=2)
    return out, _parquet(out, "compact-*/*.parquet")


WRITERS = {
    "direct": _direct,
    "ds_overwrite": _ds_overwrite,
    "ds_append": _ds_append,
    "stream_batch": _stream_batch,
    "write_encoded": _write_encoded,
    "compaction": _compaction,
}


def _side(col: pa.ChunkedArray, agg):
    nan = pa.types.is_floating(col.type) and pc.any(pc.is_nan(col)).as_py()
    return None if col.null_count or nan else agg(col).as_py()


@pytest.mark.parametrize("writer", list(WRITERS))
def test_writer_commits_manifest_with_file_stats(spark, tmp_path, writer):
    out, files = WRITERS[writer](spark, tmp_path)
    assert files
    m = load_manifest(None, out)
    assert set(m["files"]) == files
    assert set(m["file_stats"]) == files
    for f in files:
        t = pq.read_table(os.path.join(out, f))
        rows = pc.sum(t.column("n_rows")).as_py()
        st = m["file_stats"][f]
        assert st["__bytes"] == os.path.getsize(os.path.join(out, f))
        for c in COLS:
            want = [
                _side(t.column(f"{c}__min"), pc.min),
                _side(t.column(f"{c}__max"), pc.max),
                pc.sum(t.column(f"{c}__nulls")).as_py(),
                rows,
            ]
            assert st[c] == want, (f, c)
        # NaN in a block poisons the file's max; the all-NULL column has
        # no bounds at all but exact null/row totals
        assert st["score"][1] is None
        assert st["gone"] == [None, None, rows, rows]


def test_commit_paths_never_import_duckdb(spark, tmp_path):
    """Stats recompute, the manifest commit and the DataSource writer run
    in a fresh interpreter without a Spark session and leave duckdb
    unimported."""
    out, files = _ds_append(spark, tmp_path)
    code = (
        "import sys\n"
        "import pyarrow as pa\n"
        "from pyspark.sql.pandas.types import from_arrow_schema\n"
        "from aisle_spark.datasource import AisleWriter\n"
        "from aisle_spark.maintenance import _recompute_file_stats\n"
        "from aisle_spark.pipeline import commit_manifest, load_manifest\n"
        "from tests.test_writer_contract import _table\n"
        f"root = {out!r}\n"
        "files = load_manifest(None, root)['files']\n"
        "stats = _recompute_file_stats(None, root, files)\n"
        "assert stats == load_manifest(None, root)['file_stats']\n"
        "commit_manifest(None, root, stats)\n"
        "t = _table(9000, 300)\n"
        "w = AisleWriter(root, from_arrow_schema(t.schema), False, ['source'], 128)\n"
        "w.commit([w.write(iter(t.to_batches()))])\n"
        "assert len(load_manifest(None, root)['files']) == len(files) + 1\n"
        "print('duckdb' in sys.modules)\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "False"
