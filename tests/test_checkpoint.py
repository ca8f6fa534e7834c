"""F6 resume + F5 skew-balance fixtures, over the direct-write encode:
``encode_files_direct(resume=True)`` continues an interrupted run from
its committed ``_done/`` sidecars, ``lineage_files`` is the per-input
metrics table, and the salted ``part_id`` balances raw bytes."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import aisle_spark.pipeline as pl
from aisle_spark.pipeline import (
    encode_files_direct,
    encode_table,
    lineage_files,
    read_encoded,
    scan,
)
from aisle_spark.schema import synth_batch


class InjectedFailure(RuntimeError):
    """Raised by tests to simulate a mid-run crash (F6)."""


def _df(spark, n=4000):
    return spark.createDataFrame(pa.Table.from_batches([synth_batch(0, n)]))


def _inputs(src: str, n: int, files: int) -> None:
    os.makedirs(src)
    per = n // files
    for i in range(files):
        pq.write_table(
            pa.Table.from_batches([synth_batch(i * per, per)]),
            os.path.join(src, f"f{i}.parquet"),
        )


def test_resume_after_injected_failure(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "src")
    out_fail = str(tmp_path / "enc_fail")
    out_clean = str(tmp_path / "enc_clean")
    _inputs(src, 4000, 4)
    kw = dict(parts=8, sort_cols=["source", "n_tok"])

    # the run crashes before its manifest commit ...
    def crash(*_a, **_k):
        raise InjectedFailure("injected failure before the manifest commit")

    with monkeypatch.context() as m:
        m.setattr(pl, "commit_manifest", crash)
        with pytest.raises(InjectedFailure):
            encode_files_direct(spark, src, out_fail, **kw)
    assert not os.path.exists(os.path.join(out_fail, "_aisle_files.json"))
    # ... and two inputs' tasks died before their per-input commit (the
    # sidecar): their data files are orphans no manifest will list
    done = os.path.join(out_fail, "_done")
    lost = [
        p for p in sorted(os.listdir(done))
        if {"f2.parquet", "f3.parquet"}
        & set(pl._fs_read_json(None, os.path.join(done, p))["inputs"])
    ]
    for p in lost:
        os.remove(os.path.join(done, p))
    ck = lineage_files(spark, out_fail)
    assert ck.count() == 2  # two inputs committed before the crash
    first = {p: os.path.getmtime(os.path.join(done, p)) for p in os.listdir(done)}

    # resume: only the remaining inputs run
    encode_files_direct(spark, src, out_fail, resume=True, **kw)
    ran = len(set(os.listdir(done)) - set(first))
    assert ran == 2
    assert lineage_files(spark, out_fail).count() == 4
    assert all(os.path.getmtime(os.path.join(done, p)) == t for p, t in first.items())

    # third run is a no-op
    before = {p: os.path.getmtime(os.path.join(done, p)) for p in os.listdir(done)}
    encode_files_direct(spark, src, out_fail, resume=True, **kw)
    after = {p: os.path.getmtime(os.path.join(done, p)) for p in os.listdir(done)}
    assert after == before

    # final table identical to an uninterrupted run
    encode_files_direct(spark, src, out_clean, **kw)
    a_blocks, schema = read_encoded(spark, out_fail)
    b_blocks, _ = read_encoded(spark, out_clean)
    a = scan(a_blocks, schema).orderBy("doc_id").toPandas()
    b = scan(b_blocks, schema).orderBy("doc_id").toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    for x, y in zip(a["tokens"], b["tokens"]):
        assert list(x) == list(y)


def test_lineage_metrics_and_skew_balance(spark, tmp_path):
    df = _df(spark, 6000)
    blocks = encode_table(df, parts=8, sort_cols=["source", "n_tok"])
    enc_cols = [c for c in blocks.columns if c.endswith("__enc_bytes")]
    raw_cols = [c for c in blocks.columns if c.endswith("__raw_bytes")]
    lin = blocks.groupBy("part_id").agg(
        F.count("*").alias("n_blocks"),
        F.sum("n_rows").alias("n_rows"),
        sum((F.sum(c) for c in enc_cols), F.lit(0)).alias("enc_bytes"),
        sum((F.sum(c) for c in raw_cols), F.lit(0)).alias("raw_bytes"),
    ).toPandas()
    assert len(lin) == 8  # one row per part
    assert lin["n_rows"].sum() == 6000
    assert (lin["enc_bytes"] > 0).all()
    # salted partitioning keeps raw bytes balanced despite 70% "web" rows
    # and zipf lengths: max part within 3x of min part
    assert lin["raw_bytes"].max() < 3 * lin["raw_bytes"].min()
    src = str(tmp_path / "src")
    df.write.parquet(src)
    encode_files_direct(spark, src, str(tmp_path / "enc"), parts=8)
    ck = lineage_files(spark, str(tmp_path / "enc")).toPandas()
    assert ck["rows_per_sec"].min() > 0
