"""Structured Streaming ingestion for the engine: a micro-batch sink whose
tasks write block files straight into an encoded table directory and
whose driver commits them with exactly-once semantics.

Shape:  readStream (any source) -> encode_stream(...) -> encoded table
        readable by read_encoded()/scan() WHILE the stream keeps appending.

Exactly-once protocol (the streaming face of the batch direct-write
commit): every micro-batch runs one ``mapInArrow`` whose tasks write
uniquely named block files (``pipeline.write_block_file``) and return
their commit rows; the driver then records the batch's files in the
committed-file manifest (``_aisle_files.json``) through
``pipeline.commit_manifest`` keyed by Spark's monotonically increasing
batchId. A replayed batch (failure before the manifest commit) REPLACES
that batch's file list, so duplicates are impossible; files of an earlier
attempt are never listed and stay invisible.

This mirrors the reference's "streaming extensibility" surface
(SURVEY.md §2.9) re-expressed on Spark's own streaming engine: watermarks,
triggers and source offsets all come from Structured Streaming; the engine
contributes only the per-batch vectorized encode + the commit protocol.
"""

from __future__ import annotations

import json
import os
from typing import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from aisle_spark.pipeline import (
    DEFAULT_BLOCK_ROWS,
    DEFAULT_MAX_VALUES,
    FLUSH_BLOCKS,
    _default_salt_cols,
    _pin_worker_threads,
    _write_schema_sidecar,
    arrow_schema_of,
    commit_manifest,
    write_block_file,
)
from aisle_spark.schema import specs_for_schema


def _read_manifest(out_path: str) -> dict:
    if not os.path.exists(os.path.join(out_path, "_aisle_files.json")):
        return {"files": [], "batches": {}}
    from aisle_spark.pipeline import load_manifest

    m = load_manifest(None, out_path)  # resolves the pointer form
    m.setdefault("batches", {})
    return m


def _encode_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    parts: int = 64,
    salt_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    max_values: int = DEFAULT_MAX_VALUES,
) -> int:
    """One micro-batch: each input split is sorted, encoded and written
    as one block file by its task; the driver commits the batch's files
    (replacing any earlier attempt's). Returns the committed version."""
    specs = specs_for_schema(arrow_schema_of(batch_df))
    sort_keys = [(c, "ascending") for c in (sort_cols or [])]
    salt_cols_eff = salt_cols or _default_salt_cols(specs)
    flush_blocks = FLUSH_BLOCKS  # the driver's value travels with the task

    def encode_split(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_threads()
        import uuid

        from pyspark import TaskContext

        got = list(batches)
        if not got:
            return
        tc = TaskContext.get()
        task_id = tc.partitionId() if tc else 0
        meta = write_block_file(
            [pa.Table.from_batches(got)],
            specs,
            out_path,
            f"stream-b{batch_id:08d}-{task_id:05d}-{uuid.uuid4().hex[:8]}.parquet",
            compression="none",
            flush_blocks=flush_blocks,
            block_base=task_id,
            sort_keys=sort_keys,
            block_rows=block_rows,
            max_values=max_values,
            parts=parts,
            salt_cols=salt_cols_eff,
        )
        if meta is not None:  # the file and its manifest entry, as JSON
            yield pa.RecordBatch.from_pylist(
                [{"file": meta["file"], "stats": json.dumps(meta["stats"])}]
            )

    rows = batch_df.mapInArrow(encode_split, "file string, stats string").collect()
    return commit_manifest(
        None, out_path, {r.file: json.loads(r.stats) for r in rows}, batch=batch_id
    )


def encode_stream(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    parts: int = 64,
    salt_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    max_values: int = DEFAULT_MAX_VALUES,
    query_name: str = "aisle_encode_stream",
):
    """Attach the encoder to a streaming DataFrame; returns the started
    StreamingQuery. The caller controls triggers/await on the handle."""
    os.makedirs(out_path, exist_ok=True)
    _write_schema_sidecar(out_path, arrow_schema_of(stream_df))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _encode_batch(
            batch_df, batch_id, out_path, parts, salt_cols, sort_cols,
            block_rows, max_values,
        )

    return (
        stream_df.writeStream.foreachBatch(sink)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .start()
    )
