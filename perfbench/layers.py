"""Per-layer metrics of a traced run.

Three sources, all read or driven from the benchmark's own files:

* an in-process, single-core replay: a seeded sample of the blocks the
  workload committed runs through ``blocks``/``codecs`` decode and encode,
  and every kept block of each scan query through ``chunkstats`` and
  ``rowmask``; the driver-side modules (``filterspec``, ``sqlcompile``,
  ``datasource`` planning/read/append, ``pipeline`` scan/manifest,
  ``maintenance``) are called directly. Spans give each layer's self time.
* the engine's ``_done/*.json`` encode sidecars (stage core-seconds).
* Spark's event log (jobs, tasks, scheduler delay per op).

The attribution self-test injects a 10% delay into ``codecs.ints`` decode
in alternate replay rounds and checks that only that layer's self time
moves.
"""

from __future__ import annotations

import json
import math
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from planning import block_counts, kept, reader_for
from tracing import Tracer, read_event_log
from workloads import SORT_COLS, full_queries, selective_queries

REPLAY_BLOCKS = 6  # blocks per replay round (a seeded sample)
REPLAY_SECONDS = 20.0  # clean and injected rounds alternate this long
REPLAY_MIN_PAIRS = 3
SELFTEST_LAYER = "codecs.ints.decode"
SELFTEST_SHARE = 0.10  # injected delay, as a share of each call
SELFTEST_BOUND = 0.05  # smallest bound on any other layer's move
SELFTEST_LAYERS = (
    "codecs.ints.decode", "codecs.ints.encode", "codecs.strings.decode",
    "codecs.strings.encode", "codecs.bloom.build", "blocks.decode_block",
    "blocks.encode_block", "chunkstats.chunk_keep", "rowmask.row_mask",
)
MB = 1024 * 1024


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def load_blocks(table: str) -> tuple[list, list[dict], dict[str, list[int]]]:
    """(specs, block rows as the reader sees them, manifest row index of
    each file's blocks)."""
    from aisle_spark.pipeline import load_manifest
    from aisle_spark.schema import specs_for_schema

    root = table.rstrip("/")
    with open(f"{root}/_aisle_schema.arrow", "rb") as fh:
        schema = pa.ipc.read_schema(pa.py_buffer(fh.read()))
    rows, index = [], {}
    for f in load_manifest(None, root)["files"]:
        t = pq.read_table(f"{root}/{f}")
        index[f"{root}/{f}"] = list(range(len(rows), len(rows) + t.num_rows))
        cols = {n: t.column(n).combine_chunks() for n in t.column_names}
        for i in range(t.num_rows):
            row = {}
            for n, c in cols.items():
                v = c[i]
                row[n] = (
                    memoryview(v.as_buffer())
                    if isinstance(v, pa.BinaryScalar) and v.is_valid
                    else v.as_py()
                )
            rows.append(row)
    return specs_for_schema(schema), rows, index


def _round(tracer: Tracer, specs, sample, filtered, inject: list[int] | None = None) -> dict:
    """One replay round: decode, re-encode, filtered decode. Returns
    per-layer totals of this round. ``inject``: nanoseconds to busy-wait
    in each successive call of the self-test's layer."""
    from aisle_spark.blocks import decode_block, decode_block_filtered, encode_block

    mark = len(tracer.spans)
    tracer.delay = {SELFTEST_LAYER: iter(inject)} if inject else {}
    try:
        with tracer.scope("replay"):
            batches = [decode_block(specs, row) for row in sample]
            for i, b in enumerate(batches):
                encode_block(specs, b, 0, i)
            for where, cols, rows in filtered:
                for row in rows:
                    decode_block_filtered(specs, row, cols, where)
    finally:
        tracer.delay = {}
    plan = [
        int(SELFTEST_SHARE * self_s * 1e9)
        for name, self_s, _op, _b in tracer.self_times(mark)
        if name == SELFTEST_LAYER
    ]
    return tracer.totals(mark), plan


def _per(t: dict, name: str) -> float:
    """Self seconds per call."""
    e = t.get(name)
    return e["self_s"] / e["calls"] if e and e["calls"] else 0.0


def _mb_per_s(t: dict, name: str) -> float:
    e = t.get(name)
    return e["bytes"] / MB / e["self_s"] if e and e["self_s"] > 0 else 0.0


def _need(specs, q, spec) -> list[str]:
    want = set(q.columns) | set(spec.columns())
    return [s.name for s in specs if s.name in want]


def prune_table(tracer: Tracer, table: str, specs, rows, index, queries, oracle) -> tuple[list[dict], list[str]]:
    """The aisle-comparable pruning table: for each predicate, per tier
    (file -> block -> chunk -> row) units kept / total, rows read and the
    evaluation cost per unit in µs. Also returns failed cross-checks."""
    from aisle_spark.blocks import decode_column
    from aisle_spark.chunkstats import chunk_keep, n_chunks
    from aisle_spark.filterspec import utc_normalize
    from aisle_spark.rowmask import row_mask

    per_file = block_counts(table)
    n_rows = [r["n_rows"] for r in rows]
    kinds = {s.name: s for s in specs}
    out, failed, seen = [], [], set()
    for q in queries:
        pred = q.name.split(".")[0]
        if q.pred is None or pred in seen:
            continue
        seen.add(pred)
        spec = q.prune_spec()
        mark = len(tracer.spans)
        with tracer.scope(f"plan.{pred}"):
            entries, files_kept, blocks_kept = kept(table, q, per_file)
        t = tracer.totals(mark)
        file_keep_s = t.get("datasource.file_keep", {}).get("self_s", 0.0)
        plan_s = t["datasource.plan"]["self_s"] + file_keep_s
        kept_rows = [
            j
            for f, sel in entries.items()
            for j in (index[f] if sel is None else [index[f][k] for k in sel])
        ]
        where = utc_normalize(spec)
        cols = sorted(spec.columns())
        chunks_total = chunks_kept = rows_in_chunks = selected = masked_blocks = 0
        t_chunk = t_row = 0.0
        for j in kept_rows:
            row, n = rows[j], n_rows[j]
            t0 = time.perf_counter()
            ck = chunk_keep(where, row, kinds, n)
            t_chunk += time.perf_counter() - t0
            chunks_total += n_chunks(n)
            chunks_kept += int(ck.sum())
            lens = np.minimum(512, n - 512 * np.arange(n_chunks(n)))
            rows_in_chunks += int(lens[ck].sum())
            if not ck.any():
                continue
            batch = pa.RecordBatch.from_arrays(
                [decode_column(kinds[c], row[f"{c}__payload"]) for c in cols], names=cols
            )
            t0 = time.perf_counter()
            selected += int(row_mask(where, batch).sum())
            t_row += time.perf_counter() - t0
            masked_blocks += 1
        want = oracle.expect(q.pred, "count").count
        if selected != want:
            failed.append(f"row tier of {pred} selected {selected} rows, oracle {want}")
        n_kept = max(1, len(kept_rows))
        out.append({
            "query": pred,
            "where": where,
            "columns": _need(specs, q, spec),
            "kept_rows": kept_rows,
            "file": (files_kept, len(per_file), sum(n_rows[j] for f in entries for j in index[f]),
                     1e6 * file_keep_s / max(1, len(per_file))),
            "block": (blocks_kept, len(rows), sum(n_rows[j] for j in kept_rows),
                      1e6 * (plan_s - file_keep_s) / max(1, sum(per_file[f] for f in entries))),
            "chunk": (chunks_kept, chunks_total, rows_in_chunks, 1e6 * t_chunk / n_kept),
            "row": (selected, rows_in_chunks, selected, 1e6 * t_row / max(1, masked_blocks)),
            "plan_s": plan_s,
        })
    return out, failed


def _span_times(tracer: Tracer, name: str, fn, reps: int) -> list[float]:
    """Call ``fn`` ``reps`` times in traced scopes; durations of its
    ``name`` spans."""
    mark = len(tracer.spans)
    for i in range(reps):
        with tracer.scope(f"{name}.{i}"):
            fn()
    return [(s[2] - s[1]) / 1e9 for s in tracer.spans[mark:] if s[0] == name]


def replay(tracer: Tracer, specs, rows, ptab, seed: int) -> tuple[list[dict], list[dict]]:
    """Single-core replay rounds, clean and injected alternately, for
    REPLAY_SECONDS: a seeded sample of blocks decoded and re-encoded, and
    every kept block of each predicate through the filtered decode."""
    pick = np.random.default_rng(seed).choice(len(rows), min(REPLAY_BLOCKS, len(rows)), replace=False)
    sample = [rows[i] for i in sorted(pick)]
    filtered = [(p["where"], p["columns"], [rows[j] for j in p["kept_rows"]]) for p in ptab]
    prev = pa.cpu_count(), pa.io_thread_count()
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    try:
        _round(tracer, specs, sample, filtered)  # warm caches
        clean, injected = [], []
        t_end = time.perf_counter() + REPLAY_SECONDS
        while len(clean) < REPLAY_MIN_PAIRS or time.perf_counter() < t_end:
            totals, plan = _round(tracer, specs, sample, filtered)
            clean.append(totals)
            # each call waits SELFTEST_SHARE of its own clean self time
            injected.append(_round(tracer, specs, sample, filtered, plan)[0])
    finally:
        pa.set_cpu_count(prev[0])
        pa.set_io_thread_count(prev[1])
    return clean, injected


def replay_metrics(clean: list[dict], rows: list[dict], ptab: list[dict], target_doc: str) -> dict:
    from aisle_spark.codecs.bloom import bloom_positions, blooms_absent_matrix

    def med(fn):
        return _median(fn(t) for t in clean)

    m = {}
    for codec in ("ints", "strings"):
        for way in ("encode", "decode"):
            name = f"codecs.{codec}.{way}"
            m[f"{name}_mb_per_s"] = (med(lambda t: _mb_per_s(t, name)), "MB/s")
    blooms = np.array([r["doc_id__bloom"] for r in rows if r.get("doc_id__bloom")], dtype=np.int64)
    absent = blooms_absent_matrix(blooms, bloom_positions(target_doc.encode())) if len(blooms) else []
    m["codecs.bloom.blocks_absent_ratio"] = (float(np.mean(absent)) if len(absent) else 0.0, "ratio")
    for name in ("encode_block", "decode_block", "decode_block_filtered"):
        m[f"blocks.{name}_s"] = (med(lambda t: _per(t, f"blocks.{name}")), "s")
    n_tok = sum(r["n_tok__sum"] or 0 for r in rows)
    n_rows = sum(r["n_rows"] for r in rows)
    m["blocks.tokens.bytes_per_token"] = (sum(r["tokens__enc_bytes"] for r in rows) / max(1, n_tok), "B/token")
    m["blocks.doc_id.bytes_per_row"] = (sum(r["doc_id__enc_bytes"] for r in rows) / max(1, n_rows), "B/row")
    m["chunkstats.chunk_keep_s"] = (med(lambda t: _per(t, "chunkstats.chunk_keep")), "s")
    cp = next(p["chunk"] for p in ptab if p["query"] == "chunk_point")
    m["chunkstats.chunks_kept_ratio"] = (cp[0] / max(1, cp[1]), "ratio")
    m["rowmask.row_mask_s"] = (med(lambda t: _per(t, "rowmask.row_mask")), "s")
    m["rowmask.rows_selected_ratio"] = (
        sum(p["row"][0] for p in ptab) / max(1, sum(p["row"][1] for p in ptab)), "ratio")
    return m


def selftest(clean: list[dict], injected: list[dict]) -> dict:
    """Only the injected layer's self time may move. Each layer's self
    time is taken relative to the round's self time outside the injected
    layer, and each clean round is paired with the injected round right
    after it, so drift of the box's speed cancels. A move is the median
    over the pairs. From a layer's noise, the median change between
    consecutive clean rounds, the standard error of such a median is about
    1.9 x noise / sqrt(pairs). The injected layer must move by more than
    half the injected share and two standard errors; every other layer
    must stay within the larger of SELFTEST_BOUND and three."""

    def rel(t, name):
        rest = sum(v["self_s"] for k, v in t.items() if k != SELFTEST_LAYER)
        return t.get(name, {}).get("self_s", 0.0) / rest

    moved, se = {}, {}
    for name in SELFTEST_LAYERS:
        if not all(rel(t, name) > 0 for t in clean + injected):
            continue
        moved[name] = _median(rel(b, name) / rel(a, name) for a, b in zip(clean, injected)) - 1
        noise = _median(abs(rel(b, name) / rel(a, name) - 1) for a, b in zip(clean, clean[1:]))
        se[name] = 1.9 * noise / math.sqrt(len(clean))
    bound = {k: max(SELFTEST_BOUND, 3 * v) for k, v in se.items()}
    bound[SELFTEST_LAYER] = max(SELFTEST_SHARE / 2, 2 * se.get(SELFTEST_LAYER, 1.0))
    others = {k: abs(v) / bound[k] for k, v in moved.items() if k != SELFTEST_LAYER}
    hit = moved.get(SELFTEST_LAYER, 0.0)
    passed = hit >= bound[SELFTEST_LAYER] and all(x <= 1 for x in others.values())
    print(f"# self-test over {len(clean)} round pairs, move (bound): "
          + ", ".join(f"{k} {100 * v:+.1f}% ({100 * bound[k]:.1f}%)" for k, v in moved.items()))
    return {
        "selftest.ints_decode_moved_pct": (100 * hit, "%"),
        "selftest.max_other_moved_of_bound": (max(others.values(), default=0.0), "ratio"),
        "selftest.passed": (1.0 if passed else 0.0, "bool"),
    }


def driver_layers(spark, wl, tracer: Tracer, work: Path, queries, ptab, n_blocks: int) -> dict:
    """Driver-side modules, called directly inside traced scopes, and
    the Catalyst block tier cross-checked against DuckDB's."""
    from aisle_spark.datasource import AisleWriter
    from aisle_spark.maintenance import compact_encoded
    from aisle_spark.pipeline import load_manifest, publish_manifest, read_encoded, scan
    from aisle_spark.schema import synth_batch
    from aisle_spark.sqlcompile import parse_where
    from pyspark.sql.pandas.types import from_arrow_schema

    m = {}
    table = wl.table
    blocks, schema = read_encoded(spark, table)
    builds, keeps = [], []
    for q in queries:
        if q.surface == "lib" and q.spec is not None:
            builds += _span_times(tracer, "pipeline.scan", lambda: scan(
                blocks, schema, where=q.spec(), columns=list(q.columns) or None), 3)
            keeps += _span_times(tracer, "filterspec.keep_blocks", lambda: q.spec().keep_blocks(), 3)
    m["pipeline.scan.build_s"] = (_median(builds), "s")
    m["filterspec.keep_blocks_build_s"] = (_median(keeps), "s")
    for p in ptab:
        spec = next(q for q in queries if q.name.split(".")[0] == p["query"]).prune_spec()
        n = blocks.filter(spec.keep_blocks()).count()
        m[f"filterspec.{p['query']}.blocks_kept_ratio"] = (n / max(1, n_blocks), "ratio")
        if n != p["block"][0]:
            wl.failed_checks.append(f"{p['query']}: Catalyst keeps {n} blocks, DuckDB {p['block'][0]}")
    sql = next(q.where_option for q in queries if q.where_option)
    m["sqlcompile.parse_where_s"] = (_median(_span_times(tracer, "sqlcompile.parse_where", lambda: parse_where(sql), 20)), "s")

    m["datasource.plan_s"] = (_median(p["plan_s"] for p in ptab), "s")
    for tier in ("file", "block"):
        m[f"datasource.{tier}s_kept_ratio"] = (
            sum(p[tier][0] for p in ptab) / max(1, sum(p[tier][1] for p in ptab)), "ratio")
    reads = []
    for q in queries:
        if q.pred is None or q.surface != "ds":
            continue
        reader = reader_for(table, q)
        parts = reader.partitions()

        def consume(reader=reader, parts=parts):
            with tracer.span("datasource.read"):
                for part in parts:
                    for _ in reader.read(part):
                        pass

        reads += _span_times(tracer, "datasource.read", consume, 1)
    m["datasource.read_s"] = (_median(reads), "s")
    batch = pa.Table.from_batches([synth_batch(90_000_000, 1024, wl.seed)])
    writer = AisleWriter(str(work / "layer_append"), from_arrow_schema(batch.schema), False, SORT_COLS, 4096)

    def append():
        with tracer.span("datasource.append"):
            writer.commit([writer.write(iter(batch.to_batches()))])

    m["datasource.append_s"] = (_median(_span_times(tracer, "datasource.append", append, 3)), "s")

    m["pipeline.manifest.load_s"] = (_median(_span_times(
        tracer, "pipeline.manifest.load", lambda: load_manifest(None, table), 10)), "s")
    payload = load_manifest(None, table)
    (work / "layer_publish").mkdir()
    m["pipeline.manifest.publish_s"] = (_median(_span_times(
        tracer, "pipeline.manifest.publish",
        lambda: publish_manifest(None, str(work / "layer_publish"), payload), 5)), "s")
    m["pipeline.manifest.bytes"] = (float(Path(table, "_aisle_files.json").stat().st_size), "B")

    stages, task_wall = {}, 0.0
    for p in Path(table, "_done").glob("*.json"):
        meta = json.loads(p.read_text())
        task_wall += meta["wall_sec"]
        for k, v in meta["stages"].items():
            stages[k] = stages.get(k, 0.0) + v
    for k in ("read", "sort", "encode", "write"):
        m[f"pipeline.encode.{k}_core_s"] = (stages.get(f"{k}_sec", 0.0), "s")
    m["pipeline.encode.idle_core_s"] = (wl.last_encode.wall_s * wl.cores - task_wall, "s")

    shutil.copytree(table, work / "layer_compact")
    comp = {}
    m["maintenance.compact_s"] = (_span_times(
        tracer, "maintenance.compact",
        lambda: comp.update(compact_encoded(spark, str(work / "layer_compact"))), 1)[0], "s")
    m["maintenance.bytes_rewritten"] = (float(comp["bytes"]), "B")
    m["maintenance.files_before"] = (float(comp["files_before"]), "count")
    m["maintenance.files_after"] = (float(comp["files_after"]), "count")

    floors = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).count()
        floors.append(time.perf_counter() - t0)
    m["spark.action_floor_s"] = (_median(floors), "s")
    return m


def query_metrics(wl, ops, queries) -> dict:
    """Each query's median over the loop's untraced ops; a query the
    workload's loop does not run runs twice here, on its table, checked,
    and the second (warm) run counts."""
    m, walls = {}, {}
    for o in ops:
        if o.kind == "read" and o.ok and not o.traced:
            walls.setdefault(o.name, []).append(o.wall_s)
    for q in queries:
        if q.name not in walls:
            runs = [wl.query_op(q, wl.table, wl.oracle) for _ in range(2)]
            if not all(op.ok for op in runs):
                wl.failed_checks.append(f"layer run of {q.name} failed")
            walls[q.name] = [runs[-1].wall_s]
        m[f"query.{q.name}.p50_s"] = (_median(walls[q.name]), "s")
    ratios = []
    for name in {o.name for o in ops}:
        on = [o.wall_s for o in ops if o.name == name and o.ok and o.traced]
        off = [o.wall_s for o in ops if o.name == name and o.ok and not o.traced]
        if on and off:
            ratios.append(_median(on) / _median(off))
    m["trace.overhead_pct"] = (
        100 * (math.exp(sum(map(math.log, ratios)) / len(ratios)) - 1) if ratios else 0.0, "%")
    return m


def layer_metrics(spark, wl, ops, tracer: Tracer, work: Path) -> dict:
    """Everything that needs the live session; ``finish_layer_metrics``
    adds the event log once the session has stopped."""
    loop_ids = {o.op_id for o in ops if o.traced}
    per_name: dict[str, list[float]] = {}
    for name, self_s, op, _b in tracer.self_times():
        if op in loop_ids:
            per_name.setdefault(name, []).append(self_s)
    print(f"# spans of the {len(loop_ids)} traced loop ops, self time by layer: " + ", ".join(
        f"{k} {len(v)}x {sum(v):.3f}s" for k, v in sorted(per_name.items(), key=lambda kv: -sum(kv[1]))))
    specs, rows, index = load_blocks(wl.table)
    queries = selective_queries(wl.target_doc) + full_queries()
    ptab, failed = prune_table(tracer, wl.table, specs, rows, index, queries, wl.oracle)
    wl.failed_checks += failed
    clean, injected = replay(tracer, specs, rows, ptab, wl.seed)
    m = replay_metrics(clean, rows, ptab, wl.target_doc)
    m.update(selftest(clean, injected))
    m.update(driver_layers(spark, wl, tracer, work, queries, ptab, len(rows)))
    m.update(query_metrics(wl, ops, queries))
    for p in ptab:
        print(
            f"# prune {p['query']:15s} "
            + " | ".join(
                f"{tier} {p[tier][0]}/{p[tier][1]} rows {p[tier][2]} {p[tier][3]:.1f}us"
                for tier in ("file", "block", "chunk", "row")
            )
        )
    return {"metrics": m, "ops": ops, "encode": wl.last_encode}


def finish_layer_metrics(layer: dict, work: Path, canary_s: float, steal_pct: float) -> dict:
    """Add the event-log figures and the run's environment, and return
    the metrics in the result-line shape."""
    m = layer["metrics"]
    jobs = read_event_log(work / "events")
    loop = [o for o in layer["ops"] if o.ok]
    by_op: dict[str, list[dict]] = {}
    for j in jobs:
        by_op.setdefault(j["op"], []).append(j)
    n = max(1, len(loop))
    gaps = []
    for o in loop:
        spans = sorted((max(j["submit"], o.start), min(j["end"], o.end)) for j in by_op.get(o.op_id, []))
        covered, cur_end = 0.0, o.start
        for s, e in spans:
            if e > max(s, cur_end):
                covered += e - max(s, cur_end)
                cur_end = e
        gaps.append(o.wall_s - covered)
    mine = [j for o in loop for j in by_op.get(o.op_id, [])]
    m["spark.jobs_per_op"] = (len(mine) / n, "count")
    m["spark.tasks_per_op"] = (sum(j["tasks"] for j in mine) / n, "count")
    m["spark.task_core_s_per_op"] = (sum(j["task_s"] for j in mine) / n, "s")
    m["spark.sched_delay_s_per_op"] = (sum(j["sched_delay_s"] for j in mine) / n, "s")
    m["spark.driver_gap_s_per_op"] = (_median(gaps), "s")
    enc = layer["encode"]
    enc_jobs = by_op.get(enc.op_id, [])
    m["pipeline.encode.commit_s"] = (enc.end - max(j["end"] for j in enc_jobs) if enc_jobs else 0.0, "s")
    m["env.canary_s"] = (canary_s, "s")
    m["env.steal_pct"] = (steal_pct, "%")
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}
