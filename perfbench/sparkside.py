"""Pieces the two Spark workloads share: driver-side wrappers of the
package's public module attributes, probes of the artifacts the engine
writes, and the per-layer numbers derived from them."""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import COLUMNS, codec_metric_label, median

READ_OPS = ("decode", "lookup", "range_read", "where_read")


def install_wrappers(run) -> None:
    """Spans around plan, snapshot and lazy-decode calls; counts of
    driver-side fsio calls. Executor code is never wrapped."""
    from mojap_arrow_pd_parser_spark.operators import decode, encode, snapshots
    from mojap_arrow_pd_parser_spark.sources import fsio

    t = run.tracer
    t.wrap(encode, "load_or_make_plan", "chunking.plan")
    t.wrap(snapshots, "write_snapshot", "snapshots.write")
    t.wrap(decode, "decode_table", "decode.prune")
    for attr in ("list_files", "list_dirs"):
        t.wrap_counter(fsio, attr, "fsio.list")
    for attr in ("read_bytes", "read_json"):
        t.wrap_counter(fsio, attr, "fsio.read")
    for attr in ("write_bytes_atomic", "write_json_atomic", "write_parquet_atomic"):
        t.wrap_counter(fsio, attr, "fsio.write")


def probe_decode(run, op, path: str, **kw) -> None:
    """Chunk files a read scans after pruning, and the live total."""
    if not run.tracer.enabled:
        return
    from mojap_arrow_pd_parser_spark.operators.decode import decode_table

    with run.probe():
        scanned = len(decode_table(run.spark, path, **kw).inputFiles())
        live = len(decode_table(run.spark, path).inputFiles())
    run.probes.setdefault(op.id, {}).update(files_scanned=scanned, files_live=live)


def probe_encode(run, op, path: str) -> None:
    """Sidecar ``wall_ms`` and codec labels, chunk-file count and the
    encoded bytes per column, read from the table the op wrote."""
    if not run.tracer.enabled:
        return
    with run.probe():
        wall_ms, labels = 0, Counter()
        for f in glob.glob(os.path.join(path, "manifest", "*.json")):
            with open(f) as fh:
                side = json.load(fh)
            wall_ms += side.get("wall_ms", 0)
            for label in json.loads(side.get("codecs") or "{}").values():
                labels[codec_metric_label(label)] += 1
        files = glob.glob(os.path.join(path, "chunks", "*.parquet"))
        out_bytes = Counter()
        for f in files:
            t = pq.read_table(f, columns=["column", "meta", "payload"])
            sizes = pc.add(pc.binary_length(t["payload"]), pc.binary_length(t["meta"]))
            for col, n in zip(t["column"].to_pylist(), sizes.to_pylist()):
                out_bytes[col] += n
    run.probes.setdefault(op.id, {}).update(
        chunk_s=wall_ms / 1e3, files=len(files), labels=labels, out_bytes=out_bytes
    )


def _span_sum(run, op_id: str, name: str) -> float:
    return sum(
        s["end"] - s["start"]
        for s in run.tracer.closed()
        if s["op"] == op_id and s["name"] == name
    )


def _span_durations(run, name: str) -> list[float]:
    return [s["end"] - s["start"] for s in run.tracer.closed() if s["name"] == name]


def layers(run, traced) -> dict:
    """Per-layer numbers both Spark workloads report."""
    m = {
        "chunking.plan_s": median(_span_durations(run, "chunking.plan")),
        "snapshots.write_s": median(_span_durations(run, "snapshots.write")),
        "decode.prune_s": median(_span_durations(run, "decode.prune")),
    }
    reads = [o for o in traced if o.type in READ_OPS]
    m["decode.exec_s"] = median(o.wall - _span_sum(run, o.id, "decode.prune") for o in reads)
    m["verify.exec_s"] = median(
        o.wall - _span_sum(run, o.id, "decode.prune") for o in traced if o.type == "verify"
    )
    probed = [run.probes[o.id] for o in reads if "files_scanned" in run.probes.get(o.id, {})]
    m["decode.files_scanned"] = median(p["files_scanned"] for p in probed)
    m["decode.files_live"] = median(p["files_live"] for p in probed)

    creates = [o for o in traced if o.type == "create" and "chunk_s" in run.probes.get(o.id, {})]
    groups = run.event_groups
    rows = []
    for o in creates:
        p = run.probes[o.id]
        g = groups.get(o.id)
        row = {"chunk_s": p["chunk_s"], "files": p["files"]}
        if g is not None and g.tasks:
            st = g.stage_totals()
            enc = max(st.values(), key=lambda s: s["shuffle_read"])
            shuf = max(st.values(), key=lambda s: s["shuffle_write"])
            row["map_task_s"] = enc["run_ms"] / 1e3
            row["shuffle_task_s"] = shuf["run_ms"] / 1e3
            row["commit_s"] = max(0.0, (o.end_ms - enc["last_finish_ms"]) / 1e3)
        rows.append(row)
    for key in ("chunk_s", "map_task_s", "shuffle_task_s", "commit_s"):
        m[f"encode.{key}"] = median(r[key] for r in rows if key in r)
    m["encode.files_written"] = median(r["files"] for r in rows)
    m["encode.boundary_s"] = m["encode.map_task_s"] - m["encode.chunk_s"]
    if creates:
        for col in COLUMNS:
            m[f"codecs.out_bytes.{col}"] = median(
                run.probes[o.id]["out_bytes"][col] for o in creates
            )
        for label in {lb for o in creates for lb in run.probes[o.id]["labels"]}:
            m[f"codecs.chunks.{label}"] = median(
                run.probes[o.id]["labels"][label] for o in creates
            )
    return m
