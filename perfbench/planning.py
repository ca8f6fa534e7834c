"""Exact prune counts per query, from the engine's own planner.

``AisleReader.partitions`` is the DataSource's planning step: the file
tier (``file_keep`` on manifest bounds) then the block tier (DuckDB over
the manifest stat columns). It runs here in-process, so the counts come
without a Spark job and must repeat exactly for the same table.
"""

from __future__ import annotations

import pyarrow.parquet as pq


def reader_for(table: str, q):
    """An ``AisleReader`` set up as Spark would set it up for ``q``."""
    from aisle_spark.datasource import AisleReader

    reader = AisleReader(
        table, where=q.where_option, columns=list(q.columns) or None
    )
    if q.where_option is None and q.spec is not None:
        reader.spec = q.spec()
    return reader


def block_counts(table: str) -> dict[str, int]:
    """Blocks per committed file (one block per manifest row)."""
    from aisle_spark.pipeline import load_manifest

    files = load_manifest(None, table)["files"]
    return {
        f"{table.rstrip('/')}/{f}": pq.ParquetFile(f"{table.rstrip('/')}/{f}").metadata.num_rows
        for f in files
    }


def kept(table: str, q, blocks_per_file: dict[str, int]) -> tuple[dict[str, tuple | None], int, int]:
    """(planned entries, files kept, blocks kept) for one query."""
    parts = reader_for(table, q).partitions()
    entries = dict(e for p in parts for e in p.entries())
    n_blocks = sum(
        blocks_per_file[f] if rows is None else len(rows) for f, rows in entries.items()
    )
    return entries, len(entries), n_blocks


def plan_counts(table: str, queries) -> dict[str, tuple[int, int]]:
    """{query: (files kept, blocks kept)}."""
    per_file = block_counts(table)
    return {q.name: kept(table, q, per_file)[1:] for q in queries}
