"""codec_kernels: ``functions.codecs`` on realistic token statistics.

No JVM, shuffle or manifest: one Python process on one thread encodes
key-sorted chunk tables of Zipf BPE-like tokens with
``operators.encode.encode_chunk_table`` (sort, codec choice, stats and
key bloom per chunk) and decodes every column the way the engine's
decode task does: ``json.loads(meta)`` then ``decode_array``. A codec
change shows here undiluted; a Spark-side change shows no move.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa

import inputs
from common import COLUMNS, check, codec_metric_label

N_CHUNKS = 16
DOCS_PER_CHUNK = 600
AVG_LEN = 500


class State:
    pass


S = State()


def setup(run) -> None:
    with run.phase("jvm"):  # no JVM: this phase only imports the kernels
        from mojap_arrow_pd_parser_spark.operators import encode  # noqa: F401

        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
    with run.phase("inputs"):
        n_docs = N_CHUNKS * DOCS_PER_CHUNK
        table = inputs.zipf_tokens(run.seed, np.arange(n_docs), AVG_LEN)
        S.ref_bytes = inputs.reference_bytes(table, os.path.join(run.tmp, "ref.parquet"))
        # key-sorted chunks in shuffled row order, as a shuffle delivers them
        rng = np.random.default_rng([run.seed, 5])
        S.chunks = []
        for c in range(N_CHUNKS):
            part = table.slice(c * DOCS_PER_CHUNK, DOCS_PER_CHUNK)
            S.chunks.append(part.take(rng.permutation(part.num_rows)))
        S.sorted = [c.sort_by("doc_id") for c in S.chunks]
        S.tokens = [inputs.n_tokens(c) for c in S.chunks]
    with run.phase("warmup"):
        _encode_decode(S.chunks[0], 0)
    if run.trace_mode:
        _install_wrappers(run)


def _install_wrappers(run) -> None:
    from mojap_arrow_pd_parser_spark.operators import encode

    t = run.tracer
    t.wrap(encode, "encode_array", "codecs.encode", on_call=_column_span)
    t.wrap(encode, "bloom_from_arrow", "bloom.build")


#: column names of the chunk being encoded, in the order encode_chunk_table
#: hands them to encode_array
_current: list[str] = []


def _column_span(args, kwargs) -> str:
    return f"codecs.encode.{_current.pop(0)}" if _current else "codecs.encode.other"


def _encode(chunk: pa.Table, chunk_id: int):
    from mojap_arrow_pd_parser_spark.operators.encode import encode_chunk_table

    _current[:] = chunk.column_names
    return encode_chunk_table(chunk, chunk_id, "doc_id")


def _decode(run, enc: pa.Table) -> dict:
    from mojap_arrow_pd_parser_spark.functions.codecs import decode_array

    out = {}
    for name, meta, payload in zip(
        enc.column("column").to_pylist(), enc.column("meta").to_pylist(),
        enc.column("payload").to_pylist(),
    ):
        with run.tracer.span(f"codecs.decode.{name}"):
            out[name] = decode_array(json.loads(meta), payload)
    return out


def _encode_decode(chunk: pa.Table, chunk_id: int) -> None:
    from mojap_arrow_pd_parser_spark.functions.codecs import decode_array

    enc, _ = _encode(chunk, chunk_id)
    for meta, payload in zip(enc.column("meta").to_pylist(), enc.column("payload").to_pylist()):
        decode_array(json.loads(meta), payload)


def one_round(run, i: int) -> float:
    out_bytes = 0
    for c, chunk in enumerate(S.chunks):
        with run.op("encode_chunk", "write", tokens=S.tokens[c]):
            enc, manifest = _encode(chunk, c)
        with run.op("decode_chunk", "read", tokens=S.tokens[c]):
            cols = _decode(run, enc)
        want = S.sorted[c]
        for name in want.column_names:
            check(cols[name].equals(want.column(name).combine_chunks()),
                  f"chunk {c} column {name} does not round-trip")
        metas = enc.column("meta").to_pylist()
        payloads = enc.column("payload").to_pylist()
        out_bytes += sum(len(m) + len(p) for m, p in zip(metas, payloads))
        if run.tracer.enabled:
            with run.probe():
                run.probes[f"r{i}c{c}"] = {
                    "labels": json.loads(manifest["codecs"]),
                    "out_bytes": {n: len(m) + len(p) for n, m, p in
                                  zip(enc.column("column").to_pylist(), metas, payloads)},
                }
    return out_bytes / S.ref_bytes


def layers(run, traced) -> dict:
    spans = run.tracer.closed()
    traced_rounds = [s["id"] for s in spans if s["name"] == "round"]
    n = max(1, len(traced_rounds))
    selft = run.tracer.self_times()
    m = {}
    for col in COLUMNS:
        m[f"codecs.encode_s.{col}"] = sum(
            s["end"] - s["start"] for s in spans if s["name"] == f"codecs.encode.{col}") / n
        m[f"codecs.decode_s.{col}"] = sum(
            s["end"] - s["start"] for s in spans if s["name"] == f"codecs.decode.{col}") / n
    m["bloom.build_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == "bloom.build") / n
    m["encode.sort_stats_s"] = sum(
        selft[s["id"]] for s in spans if s["name"] == "op.encode_chunk") / n
    probes = list(run.probes.values())
    rounds = max(1, len(probes) // N_CHUNKS)
    for col in COLUMNS:
        m[f"codecs.out_bytes.{col}"] = sum(p["out_bytes"].get(col, 0) for p in probes) / rounds
    labels: dict[str, int] = {}
    for p in probes:
        for label in p["labels"].values():
            key = f"codecs.chunks.{codec_metric_label(label)}"
            labels[key] = labels.get(key, 0) + 1
    m.update({k: v / rounds for k, v in labels.items()})
    m["encode.files_written"] = float(N_CHUNKS)
    return m
